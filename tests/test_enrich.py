"""Enrichment join tests (Skosmos offline / geocode cache / $w resolution)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from recordmanager_spark.operators import enrich as E


def _entities(spark):
    schema = T.StructType(
        [
            T.StructField("uri", T.StringType()),
            T.StructField("pref_labels", T.ArrayType(T.StringType())),
            T.StructField("alt_labels", T.ArrayType(T.StringType())),
        ]
    )
    return spark.createDataFrame(
        [
            ("urn:c:1", ["Cats", "Katter"], ["Felines"]),
            ("urn:c:2", ["Dogs"], None),
        ],
        schema,
    )


def test_enrich_with_entities(spark):
    recs = spark.createDataFrame(
        [
            ("r1", ["urn:c:1", "urn:c:2"]),
            ("r2", ["urn:c:1", "urn:missing"]),
            ("r3", []),
            ("r4", None),
        ],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("topic_uris", T.ArrayType(T.StringType())),
            ]
        ),
    )
    out = {
        r.id: r.topic_add
        for r in E.enrich_with_entities(
            recs, _entities(spark), "id", "topic_uris"
        ).collect()
    }
    assert out["r1"] == ["Cats", "Katter", "Felines", "Dogs"]
    assert out["r2"] == ["Cats", "Katter", "Felines"]
    assert out["r3"] == []
    assert out["r4"] == []


def test_enrich_join_path_matches_literal_map(spark):
    """Vocabularies over the literal-map threshold take the broadcast-join
    path; both paths must agree (incl. per-record URI iteration order)."""
    recs = spark.createDataFrame(
        [
            ("r1", ["urn:c:2", "urn:c:1"]),  # order preserved: c2 before c1
            ("r2", ["urn:missing", "urn:c:1"]),
            ("r3", None),
        ],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("topic_uris", T.ArrayType(T.StringType())),
            ]
        ),
    )
    ents = _entities(spark)
    via_map = {
        r.id: r.topic_add
        for r in E.enrich_with_entities(
            recs, ents, "id", "topic_uris", max_map_entries=100
        ).collect()
    }
    via_join = {
        r.id: r.topic_add
        for r in E.enrich_with_entities(
            recs, ents, "id", "topic_uris", max_map_entries=1
        ).collect()
    }
    assert via_map == via_join
    assert via_map["r1"] == ["Dogs", "Cats", "Katter", "Felines"]


def test_geocode_locations(spark):
    cache = spark.createDataFrame(
        [("helsinki", "ENVELOPE(24.0, 26.0, 61.0, 60.0)")], ["location", "wkt"]
    )
    recs = spark.createDataFrame(
        [("r1", "helsinki"), ("r2", "nowhere")], ["id", "loc"]
    )
    out = {r.id: r for r in E.geocode_locations(recs, cache, "loc").collect()}
    assert out["r1"].location_geo == "ENVELOPE(24.0, 26.0, 61.0, 60.0)"
    assert out["r1"].center_coords == "25 60.5"
    assert out["r2"].location_geo is None
    assert out["r2"].center_coords == ""


def test_resolve_links_array_linking(spark):
    targets = spark.createDataFrame(
        [("src1", ["12", "(FOO)12"], "src1.12"), ("src1", ["99"], "src1.99")],
        T.StructType(
            [
                T.StructField("source_id", T.StringType()),
                T.StructField("linking_id", T.ArrayType(T.StringType())),
                T.StructField("_id", T.StringType()),
            ]
        ),
    )
    recs = spark.createDataFrame(
        [("src1", "(FOO)12"), ("src1", "77"), ("src2", "12")],
        ["source_id", "w"],
    )
    out = E.resolve_links(recs, targets, "w").collect()
    got = {(r.source_id, r.w): r.resolved_id for r in out}
    assert got[("src1", "(FOO)12")] == "src1.12"  # resolved via alt linking id
    assert got[("src1", "77")] == "src1.77"  # unresolved -> prefixed
    assert got[("src2", "12")] == "src2.12"  # wrong source -> no match


def test_enrich_authors(spark):
    auth = spark.createDataFrame(
        [("a1", ["Variant One", "Variantti Yksi"])],
        T.StructType(
            [
                T.StructField("auth_id", T.StringType()),
                T.StructField("variant_names", T.ArrayType(T.StringType())),
            ]
        ),
    )
    recs = spark.createDataFrame([("r1", "a1"), ("r2", "a9")], ["id", "aid"])
    out = {r.id: r.author_variant for r in E.enrich_authors(recs, auth, "aid").collect()}
    assert out["r1"] == ["Variant One", "Variantti Yksi"]
    assert out["r2"] == []


def test_enrich_music_ids(spark):
    from pyspark.sql import types as T

    rec_schema = T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField("title_short", T.StringType()),
            T.StructField(
                "music_ids",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("type", T.StringType()),
                            T.StructField("value", T.StringType()),
                        ]
                    )
                ),
            ),
            T.StructField(
                "publisher_numbers",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("source", T.StringType()),
                            T.StructField("value", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    recs = spark.createDataFrame(
        [
            # isrc: unguarded match; upc: guarded (title must match)
            ("r1", "Album One", [("isrc", "ISRC1"), ("upc", "UPC1")], []),
            # upc with WRONG title -> guarded match rejected
            ("r2", "Other Title", [("upc", "UPC1")], []),
            # publisher number: qualified source+num wins over fallback
            ("r3", "Album Three", [], [("LBL", "123")]),
            # publisher number without qualified hit: bare num + title guard
            ("r4", "Album Four", [], [(None, "456")]),
            ("r5", "No Matches", [], []),
        ],
        rec_schema,
    )
    mb = spark.createDataFrame(
        [
            ("isrc", "ISRC1", None, "mb-isrc"),
            ("catno", "UPC1", "Album One", "mb-upc"),
            ("catno", "LBL 123", None, "mb-qualified"),
            ("catno", "123", "Album Three", "mb-fallback-not-used"),
            ("catno", "456", "Album Four", "mb-fallback"),
        ],
        "id_type string, id_value string, title string, mbid string",
    )
    out = {
        r._id: r.mbid_str_mv
        for r in E.enrich_music_ids(recs, mb).collect()
    }
    assert out["r1"] == ["mb-isrc", "mb-upc"]
    assert out["r2"] == []  # title guard rejected
    assert out["r3"] == ["mb-qualified"]  # fallback suppressed
    assert out["r4"] == ["mb-fallback"]
    assert out["r5"] == []


def test_geocode_with_simplification(spark):
    """Retry-with-simplification ladder (NominatimGeocoder.php:262-345):
    trailing letter/flat strip, optional-term removal, last-comma-segment
    drop; first (least-simplified) cache hit wins; blocklist skips."""
    cache = spark.createDataFrame(
        [
            ("mainville main street 5", "ENVELOPE(10.0, 12.0, 61.0, 60.0)"),
            ("kumpula, helsinki", "ENVELOPE(24.0, 25.0, 60.3, 60.1)"),
            # the optional-term regex consumes adjoining punctuation, so
            # "kumpula campus, helsinki" simplifies to this (PHP parity)
            ("kumpula helsinki", "ENVELOPE(24.0, 25.0, 60.3, 60.1)"),
            ("atlantis", "ENVELOPE(0.0, 1.0, 1.0, 0.0)"),
        ],
        ["location", "wkt"],
    )
    recs = spark.createDataFrame(
        [
            # trailing letter+flat number stripped at level 0
            ("r1", "mainville main street 5 b 12"),
            # optional term removed, then hits
            ("r2", "kumpula campus, helsinki"),
            # needs comma-segment drop (3 segments -> 2)
            ("r3", "kumpula, helsinki, finland"),
            # blocklisted despite exact cache hit
            ("r4", "atlantis"),
            # no hit at any level
            ("r5", "nowhere at all"),
        ],
        ["_id", "loc"],
    )
    out = {
        r._id: r
        for r in E.geocode_with_simplification(
            recs,
            cache,
            "loc",
            optional_terms=("campus",),
            blocklist=("atlant",),
        ).collect()
    }
    assert out["r1"].location_geo == "ENVELOPE(10.0, 12.0, 61.0, 60.0)"
    assert out["r1"].simplify_level == 0
    assert out["r1"].center_coords == "11 60.5"
    assert out["r2"].geocoded_term == "kumpula helsinki"
    assert out["r2"].simplify_level >= 1
    assert out["r3"].geocoded_term == "kumpula, helsinki"
    assert out["r4"].location_geo is None
    assert out["r5"].location_geo is None


# --- uriCache TTL (AbstractEnrichment.getExternalData) ----------------------


def test_uri_cache_split_and_upsert(spark):
    from recordmanager_spark.operators import enrich as EN

    requests = spark.createDataFrame(
        [("a", "u/a"), ("b", "u/b"), ("c", "u/c")], "_id string, url string"
    )
    cache = spark.createDataFrame(
        # a fresh, b expired, c absent
        [("a", 900.0, "u/a", "DA"), ("b", 100.0, "u/b", "DB")],
        "_id string, timestamp double, url string, data string",
    )
    hits, misses = EN.uri_cache_split(
        requests, cache, now=1000, max_age_minutes=5
    )  # cutoff = 700
    assert {(r._id, r.data) for r in hits.collect()} == {("a", "DA")}
    assert {r._id for r in misses.collect()} == {"b", "c"}

    fetched = EN.fetch_uris(misses, lambda u: "F:" + u, now=1000)
    final = EN.uri_cache_upsert(cache, fetched)
    rows = {r._id: (r.timestamp, r.data) for r in final.collect()}
    assert rows["a"] == (900.0, "DA")  # untouched
    assert rows["b"] == (1000.0, "F:u/b")  # replaced
    assert rows["c"] == (1000.0, "F:u/c")  # inserted


def test_resolve_links_003_ladder_reference_golden(spark):
    """Replays Record/MarcTest.php testLinking with the marc_links.xml
    fixture semantics: a 776$w resolves through the createLinkingId
    ladder — "(003)id" primary under 003InLinkingID with the raw $w as
    fallback — and unresolved links still gain the source prefix
    (Record/Marc.php:273-318, 1561-1578)."""
    from pyspark.sql import functions as F

    from recordmanager_spark.extractors import marc as M
    from recordmanager_spark.operators.enrich import resolve_links

    src = "__unit_test_no_source__"
    raw = open(
        "/root/reference/tests/fixtures/Base/record/marc_links.xml"
    ).read()
    rec = spark.createDataFrame([(raw,)], "xml string").select(
        M.parse_marcxml("xml").alias("m")
    )
    # requester side: each 776$w with both linking-id candidates
    links = rec.select(
        F.explode(
            M.get_fields_subfields(F.col("m"), [(M.GET_NORMAL, "776", ["w"])])
        ).alias("w"),
        F.col("m"),
    ).select(
        F.lit(src).alias("source_id"),
        M.create_linking_id(F.col("m"), F.col("w"), True).alias("wrapped"),
        F.col("w").alias("raw"),
    )
    # stored records: the db map from the reference test — '961827' is a
    # linking id of .4112121, '(FI-NL)961827' of .4132317; xyzzy unknown
    targets = spark.createDataFrame(
        [
            (src, ["961827"], f"{src}.4112121"),
            (src, ["(FI-NL)961827"], f"{src}.4132317"),
        ],
        "source_id string, linking_id array<string>, _id string",
    )

    # without 003InLinkingID: candidate is the raw $w only
    plain = resolve_links(
        links.select("source_id", "raw"), targets, link_col="raw"
    )
    got = sorted(r.resolved_id for r in plain.collect())
    assert got == [f"{src}.4112121", f"{src}.xyzzy"]

    # with 003InLinkingID: "(FI-NL)w" primary, raw $w fallback
    ladder = resolve_links(
        links, targets, link_col="wrapped", alt_link_col="raw"
    )
    got = sorted(r.resolved_id for r in ladder.collect())
    assert got == [f"{src}.4132317", f"{src}.xyzzy"]


def test_linking_ids_own_side(spark):
    """getLinkingIDs: 001 (003-wrapped under the param; 999c Koha
    fallback) + every 035$a (Record/Marc.php:619-640)."""
    from pyspark.sql import functions as F

    from recordmanager_spark.extractors import marc as M

    raw = open(
        "/root/reference/tests/fixtures/Base/record/marc_links.xml"
    ).read()
    rec = spark.createDataFrame([(raw,)], "xml string").select(
        M.parse_marcxml("xml").alias("m")
    )
    plain = rec.select(M.linking_ids(F.col("m")).alias("ids")).collect()[0].ids
    assert plain == ["1013809", "FCC006141444", "1013809"]
    wrapped = (
        rec.select(M.linking_ids(F.col("m"), prepend_003=True).alias("ids"))
        .collect()[0].ids
    )
    assert wrapped == ["(FI-NL)1013809", "FCC006141444", "1013809"]
