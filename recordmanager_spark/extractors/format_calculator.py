"""MARC format calculation from leader/007/008 + record-level cues.

Behavioral spec: Record/Marc/FormatCalculator.php (the whole file —
getFormatsAsList :726-825, getFormatFrom007 :142-255, getFormatFromRecordType
:373-505, getFormatFromBibLevel :268-356, isElectronic :545-576,
isGovernmentDocument :584-588, isThesis :596-600, hasSerialHost :608-627,
isConferenceProceeding :526-537, isOnlineAccordingTo338 :655-672,
getFormatsFrom33xFields :683-718) in the reference.

Format equality is a HARD GATE in dedup verification (DedupHandler.php:786-808),
so this must be the real decision tree, not an approximation.

Spark-first design: the whole tree is pure Column expressions over the parsed
MARC struct — substring probes, when-chains, and higher-order array functions
(transform/exists/aggregate). Everything stays inside whole-stage codegen; no
Python round trip per record. ``tests/format_model.py`` holds the faithful
Python model of the same tree, which the tests cross-check this against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def _c008(f008: Column, pos: int) -> Column:
    # PHP substr is 0-based; Spark substring is 1-based. Out-of-range gives
    # '' which (like the reference's ' ') matches no letter branch.
    return F.lower(F.substring(f008, pos + 1, 1))


def _fmt_007_col(s: Column) -> Column:
    """getFormatFrom007 as one when-chain over a lowercased 007 string."""
    code = F.substring(s, 1, 1)
    c2 = F.substring(s, 2, 1)
    c5 = F.substring(s, 5, 1)

    def chain(pairs, default):
        e = None
        for k, v in pairs:
            e = (F.when(c2 == k, v) if e is None else e.when(c2 == k, v))
        return e.otherwise(default) if e is not None else F.lit(default)

    return (
        F.when(code == "a", F.when(c2 == "d", "Atlas").otherwise("Map"))
        .when(code == "c", chain(
            [("a", "TapeCartridge"), ("b", "ChipCartridge"),
             ("c", "DiscCartridge"), ("f", "TapeCassette"), ("h", "TapeReel"),
             ("j", "FloppyDisk"), ("m", "CDROM"), ("o", "CDROM"), ("r", "")],
            "ElectronicResource"))
        .when(code == "d", "Globe")
        .when(code == "f", "Braille")
        .when(code == "g", chain(
            [("c", "Filmstrip"), ("d", "Filmstrip"), ("f", "Filmstrip"),
             ("o", "Filmstrip"), ("t", "Transparency")], "Slide"))
        .when(code == "h", "Microfilm")
        .when(code == "k", chain(
            [("c", "Collage"), ("d", "Drawing"), ("e", "Painting"),
             ("f", "Print"), ("g", "Photonegative"), ("j", "Print"),
             ("k", "Poster"), ("l", "Drawing"), ("n", "Chart"),
             ("o", "FlashCard"), ("p", "Postcard"), ("s", "Print")], "Photo"))
        .when(code == "m", chain(
            [("f", "VideoCassette"), ("r", "Filmstrip")], "MotionPicture"))
        .when(code == "o", "Kit")
        .when(code == "q", "MusicalScore")
        .when(code == "r", "SensorImage")
        .when(code == "s", chain(
            [("d", "SoundDisc"), ("s", "SoundCassette")], "SoundRecording"))
        .when(
            code == "v",
            F.when(c2 == "c", "VideoCartridge")
            .when(c2 == "d", F.when(c5 == "s", "BRDisc").otherwise("VideoDisc"))
            .when(c2 == "f", "VideoCassette")
            .when(c2 == "r", "VideoReel")
            .otherwise("VideoOnline"),
        )
        .otherwise("")
    )


def _subfield_eq(field: Column, code: str) -> Column:
    """First occurrence of a subfield code in a field ('' if absent) —
    getSubfieldOrDefault with '' default."""
    vals = F.filter(
        F.coalesce(field["subfields"], F.array()),
        lambda sub: sub["code"] == code,
    )
    return F.coalesce(F.try_element_at(vals, F.lit(1))["value"], F.lit(""))


def format_col(marc: Column) -> Column:
    """array<string> of record formats over the parsed MARC struct
    (leader + fields); ``tests/format_model.py`` is its Python model."""
    fields = marc["fields"]
    leader = F.coalesce(marc["leader"], F.lit(""))
    rtype = F.lower(F.substring(leader, 7, 1))
    blevel = F.lower(F.substring(leader, 8, 1))

    def ctl(tag: str) -> Column:
        vals = F.filter(
            fields, lambda f: (f["tag"] == tag) & f["value"].isNotNull()
        )
        return F.coalesce(F.try_element_at(vals, F.lit(1))["value"], F.lit(""))

    f008 = ctl("008")
    f007s = F.transform(
        F.filter(fields, lambda f: (f["tag"] == "007") & f["value"].isNotNull()),
        lambda f: F.lower(f["value"]),
    )

    def has_tag(tag: str) -> Column:
        return F.exists(fields, lambda f: f["tag"] == tag)

    has_086 = has_tag("086")
    is_thesis = has_tag("502")
    is_conference = has_tag("111") | has_tag("711")
    serial_host = F.exists(
        fields,
        lambda f: (f["tag"] == "773")
        & F.exists(
            F.coalesce(f["subfields"], F.array()),
            lambda s: (s["code"] == "g") & (F.coalesce(s["value"], F.lit("")) != ""),
        ),
    )
    f245 = F.try_element_at(F.filter(fields, lambda f: f["tag"] == "245"), F.lit(1))
    f245_h = F.coalesce(
        F.try_element_at(
            F.filter(
                F.coalesce(f245["subfields"], F.array()),
                lambda s: s["code"] == "h",
            ),
            F.lit(1),
        )["value"],
        F.lit(""),
    )

    def _33x_match(tag: str, desc: str, code: str, source: str) -> Column:
        return F.exists(
            fields,
            lambda f: (f["tag"] == tag)
            & ((_subfield_eq(f, "a") == desc) | (_subfield_eq(f, "b") == code))
            & (_subfield_eq(f, "2") == source),
        )

    online_338 = _33x_match("338", "online resource", "cr", "rdacarrier")
    video_336 = _33x_match("336", "two-dimensional moving image", "tdi", "rdacontent")

    is_electronic = (
        F.lower(f245_h).contains("[electronic resource]")
        | (rtype == "m")
        | online_338
    )

    codes007 = F.transform(f007s, lambda s: F.substring(s, 1, 1))
    has_007 = lambda *cs: F.exists(  # noqa: E731
        codes007, lambda c: c.isin(*cs)
    )

    not_book_007 = has_007("g", "k", "m", "v")
    not_book_rtype = F.when(
        rtype == "m", ~_c008(f008, 26).isin("d", "i", "m", "u", "z")
    ).otherwise(rtype.isin("e", "f", "g", "i", "j", "k", "r"))
    could_be_book = ~(not_book_007 | not_book_rtype | video_336)

    # --- getFormatFromRecordType (suppressed when 33x matched) -------------
    p25, p26, p33, p34 = (_c008(f008, p) for p in (25, 26, 33, 34))
    fmt_rtype = (
        F.when(rtype.isin("c", "d"), "MusicalScore")
        .when(
            rtype.isin("e", "f"),
            F.when(p25 == "d", "Globe").when(p25 == "e", "Atlas").otherwise("Map"),
        )
        .when(
            rtype == "g",
            F.when(p33 == "f", "Filmstrip")
            .when(p33 == "t", "Transparency")
            .when(p33 == "m", "MotionPicture")
            .when(p33 == "v", "Video")
            .when(p34.isin("a", "c", "l", "u", "z"), "Video")
            .when(has_007("g", "m", "v"), "")
            .otherwise("ProjectedMedium"),
        )
        .when(rtype == "i", "SoundRecording")
        .when(rtype == "j", "MusicRecording")
        .when(
            rtype == "k",
            F.when(p33 == "l", "Drawing")
            .when(p33 == "n", "Chart")
            .when(p33 == "o", "FlashCard")
            .when(has_007("k"), "")
            .otherwise("Image"),
        )
        .when(
            rtype == "m",
            F.when(p26.isin("a", "e"), "DataSet")
            .when(p26 == "b", "Software")
            .when(p26 == "c", "Image")
            .when(p26 == "f", "Font")
            .when(p26 == "g", "VideoGame")
            .when(p26 == "h", "SoundRecording")
            .when(p26 == "i", "InteractiveMultimedia")
            .otherwise(""),
        )
        .when(rtype.isin("o", "p"), "Kit")
        .when(rtype == "r", "PhysicalObject")
        .when(rtype == "t", F.when(is_thesis, "").otherwise("Manuscript"))
        .otherwise("")
    )
    fmt_rtype = F.when(video_336, "").otherwise(fmt_rtype)

    # --- getFormatFromBibLevel ---------------------------------------------
    p21, p22, p23 = (_c008(f008, p) for p in (21, 22, 23))
    fmt_blevel = (
        F.when(
            blevel == "a",
            F.when(serial_host, "Article").otherwise("BookComponentPart"),
        )
        .when(blevel == "b", "SerialComponentPart")
        .when(
            blevel == "i",
            F.when(
                rtype == "a",
                F.when(p21.isin("h", "w"), "Website")
                .when(p22.isin("o", "q", "s"), "OnlineIntegratingResource")
                .otherwise("PhysicalIntegratingResource"),
            ).otherwise("PhysicalIntegratingResource"),
        )
        .when(
            blevel == "m",
            F.when(
                could_be_book,
                F.when(
                    rtype.isin("a", "t"),
                    F.when(p23.isin("o", "q", "s"), "eBook").otherwise("Book"),
                )
                .when(rtype == "m", "eBook")
                .otherwise("Book"),
            ).otherwise(""),
        )
        .when(
            blevel == "s",
            F.when(rtype == "a",
                   F.when(p21 == "n", "Newspaper")
                   .when(p21 == "p", "Journal")
                   .otherwise(F.when(is_conference, "").otherwise("Serial")))
            .otherwise(F.when(is_conference, "").otherwise("Serial")),
        )
        .otherwise("")
    )

    specials = F.array(
        F.when(has_086, "GovernmentDocument").otherwise(""),
        F.when(is_thesis, "Thesis").otherwise(""),
        F.when(is_electronic, "Electronic").otherwise(""),
        F.when(is_conference, "ConferenceProceeding").otherwise(""),
        F.when(video_336, "Video").otherwise(""),
        F.when(video_336 & online_338, "VideoOnline").otherwise(""),
    )
    per_007 = F.flatten(
        F.transform(
            f007s,
            lambda s: F.array(
                F.when(F.substring(s, 1, 1) == "v", "Video").otherwise(""),
                _fmt_007_col(s),
            ),
        )
    )
    candidates = F.filter(
        F.concat(specials, per_007, F.array(fmt_rtype, fmt_blevel)),
        lambda x: x != "",
    )
    fallback = (
        F.when(blevel.isin("c", "d"), "Kit")
        .when(rtype == "a", "Text")
        .otherwise("Unknown")
    )
    withfb = F.when(F.size(candidates) == 0, F.array(fallback)).otherwise(candidates)
    # order-preserving dedup (getFormats: array_unique keeps first occurrence)
    return F.aggregate(
        withfb,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
