"""Python model of the MARC format calculation (the reference's
Record/Marc/FormatCalculator.php, getFormatsAsList and the helpers it
calls), kept as the oracle that the Column tree in
``recordmanager_spark/extractors/format_calculator.py`` is checked
against."""

from __future__ import annotations


def _get008(f008: str, pos: int) -> str:
    """get008Value: lowercased char at pos, ' ' when out of range (PHP
    ``substr(...) ?: ' '``)."""
    return f008[pos].lower() if f008 and len(f008) > pos else " "


def _format_from_007(code: str, s: str) -> str:
    """getFormatFrom007 (FormatCalculator.php:142-255)."""
    c2 = s[1] if len(s) > 1 else " "
    if code == "a":
        return "Atlas" if c2 == "d" else "Map"
    if code == "c":
        m = {
            "a": "TapeCartridge", "b": "ChipCartridge", "c": "DiscCartridge",
            "f": "TapeCassette", "h": "TapeReel", "j": "FloppyDisk",
            "m": "CDROM", "o": "CDROM",
            # 'r' (remote) returns nothing — otherwise anything with an 856
            # would be labeled Electronic
            "r": "",
        }
        return m.get(c2, "ElectronicResource")
    if code == "d":
        return "Globe"
    if code == "f":
        return "Braille"
    if code == "g":
        if c2 in ("c", "d", "f", "o"):
            return "Filmstrip"
        if c2 == "t":
            return "Transparency"
        return "Slide"
    if code == "h":
        return "Microfilm"
    if code == "k":
        m = {
            "c": "Collage", "d": "Drawing", "e": "Painting", "f": "Print",
            "g": "Photonegative", "j": "Print", "k": "Poster", "l": "Drawing",
            "n": "Chart", "o": "FlashCard", "p": "Postcard", "s": "Print",
        }
        return m.get(c2, "Photo")
    if code == "m":
        return {"f": "VideoCassette", "r": "Filmstrip"}.get(c2, "MotionPicture")
    if code == "o":
        return "Kit"
    if code == "q":
        return "MusicalScore"
    if code == "r":
        return "SensorImage"
    if code == "s":
        return {"d": "SoundDisc", "s": "SoundCassette"}.get(c2, "SoundRecording")
    if code == "v":
        if c2 == "c":
            return "VideoCartridge"
        if c2 == "d":
            c5 = s[4] if len(s) > 4 else " "
            return "BRDisc" if c5 == "s" else "VideoDisc"
        if c2 == "f":
            return "VideoCassette"
        if c2 == "r":
            return "VideoReel"
        return "VideoOnline"  # assume other video is online
    return ""


def _format_from_record_type(
    rtype: str, f008: str, codes007: list[str], is_thesis: bool
) -> str:
    """getFormatFromRecordType (FormatCalculator.php:373-505)."""
    if rtype == "a":
        return ""  # Language material -> 'Text' fallback below
    if rtype in ("c", "d"):
        return "MusicalScore"
    if rtype in ("e", "f"):
        v = _get008(f008, 25)
        if v == "d":
            return "Globe"
        if v == "e":
            return "Atlas"
        return "Map"
    if rtype == "g":
        v = _get008(f008, 33)
        if v == "f":
            return "Filmstrip"
        if v == "t":
            return "Transparency"
        if v == "m":
            return "MotionPicture"
        if v == "v":
            return "Video"
        if _get008(f008, 34) in ("a", "c", "l", "u", "z"):  # technique => video
            return "Video"
        # a 007 for projected graphic / motion picture / video has more info
        if any(c in codes007 for c in ("g", "m", "v")):
            return ""
        return "ProjectedMedium"
    if rtype == "i":
        return "SoundRecording"
    if rtype == "j":
        return "MusicRecording"
    if rtype == "k":
        v = _get008(f008, 33)
        if v == "l":
            return "Drawing"
        if v == "n":
            return "Chart"
        if v == "o":
            return "FlashCard"
        return "" if "k" in codes007 else "Image"
    if rtype == "m":
        v = _get008(f008, 26)
        m = {
            "a": "DataSet", "b": "Software", "c": "Image", "e": "DataSet",
            "f": "Font", "g": "VideoGame", "h": "SoundRecording",
            "i": "InteractiveMultimedia",
        }
        return m.get(v, "")
    if rtype in ("o", "p"):
        return "Kit"
    if rtype == "r":
        return "PhysicalObject"
    if rtype == "t":
        return "" if is_thesis else "Manuscript"
    return ""


def _format_from_bib_level(
    rtype: str,
    blevel: str,
    f008: str,
    could_be_book: bool,
    serial_host: bool,
    is_conference: bool,
) -> str:
    """getFormatFromBibLevel (FormatCalculator.php:268-356)."""
    if blevel == "a":
        return "Article" if serial_host else "BookComponentPart"
    if blevel == "b":
        return "SerialComponentPart"
    if blevel in ("c", "d"):
        return ""  # -> Kit in the fallback
    if blevel == "i":  # integrating resource
        if rtype == "a":
            if _get008(f008, 21) in ("h", "w"):  # blog / updating web site
                return "Website"
            if _get008(f008, 22) in ("o", "q", "s"):
                return "OnlineIntegratingResource"
        return "PhysicalIntegratingResource"
    if blevel == "m":  # monograph
        if could_be_book:
            if rtype in ("a", "t"):
                if _get008(f008, 23) in ("o", "q", "s"):
                    return "eBook"
            elif rtype == "m":
                # specific computer-file types already excluded from books
                return "eBook"
            return "Book"
        return ""
    if blevel == "s":  # serial
        if rtype == "a":
            v = _get008(f008, 21)
            if v == "n":
                return "Newspaper"
            if v == "p":
                return "Journal"
        if not is_conference:
            return "Serial"
        return ""
    return ""


def formats_as_list(
    leader: str | None,
    f007s,
    f008: str | None,
    *,
    has_086: bool = False,
    has_502: bool = False,
    has_111: bool = False,
    has_711: bool = False,
    serial_host: bool = False,
    f245_h: str = "",
    video_336: bool = False,
    online_338: bool = False,
) -> list[str]:
    """Python model of FormatCalculator::getFormatsAsList + getFormats dedup.

    Record-level cues the tree needs beyond leader/007/008 are passed as
    keyword flags: 086 (government document), 502 (thesis), 111/711
    (conference), 773$g (serial host), 245$h (electronic-resource marker),
    336 tdi/rdacontent (video content), 338 cr/rdacarrier (online carrier).
    """
    leader = leader or ""
    f008 = f008 or ""
    f007s = [s.lower() for s in (f007s or []) if s]
    rtype = leader[6].lower() if len(leader) > 6 else " "
    blevel = leader[7].lower() if len(leader) > 7 else " "
    is_thesis = has_502
    is_conference = has_111 or has_711
    is_electronic = (
        "[electronic resource]" in (f245_h or "").lower()
        or rtype == "m"
        or online_338
    )

    result: list[str] = []
    could_be_book = True

    if has_086:
        result.append("GovernmentDocument")
    if is_thesis:
        result.append("Thesis")
    if is_electronic:
        result.append("Electronic")
    if is_conference:
        result.append("ConferenceProceeding")

    formats_33x: list[str] = []
    if video_336:
        formats_33x.append("Video")
        if online_338:
            formats_33x.append("VideoOnline")
    if formats_33x:
        could_be_book = False
        result.extend(formats_33x)

    codes007: list[str] = []
    for s in f007s:
        code = s[0] if s else " "
        codes007.append(code)
        if code in ("g", "k", "m", "v"):  # definitelyNotBookBasedOn007
            could_be_book = False
        if code == "v":
            result.append("Video")
        fmt = _format_from_007(code, s)
        if fmt:
            result.append(fmt)

    # definitelyNotBookBasedOnRecordType
    if rtype == "m":
        if _get008(f008, 26) not in ("d", "i", "m", "u", "z"):
            could_be_book = False
    elif rtype in ("e", "f", "g", "i", "j", "k", "r"):
        could_be_book = False

    if not formats_33x:  # 33x results suppress the record-type probe
        fmt = _format_from_record_type(rtype, f008, codes007, is_thesis)
        if fmt:
            result.append(fmt)

    fmt = _format_from_bib_level(
        rtype, blevel, f008, could_be_book, serial_host, is_conference
    )
    if fmt:
        result.append(fmt)

    if not result:
        if blevel in ("c", "d"):
            result.append("Kit")
        elif rtype == "a":
            result.append("Text")
        else:
            result.append("Unknown")

    seen: set[str] = set()
    out = []
    for r in result:
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out
