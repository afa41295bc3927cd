"""Enrichment joins: offline linked-data, geocode cache, MARC link resolution.

Behavioral spec (reference, NOT code):
- Enrichment/SkosmosEnrichment.php:222-352 — a record's topic URIs are
  looked up in a vocabulary (offline mode reads the imported ``ldEnrichment``
  table); matched concepts contribute prefLabels in other languages and
  altLabels to an add-field, plus geo coordinates where present.
- Enrichment/NominatimGeocoder.php:215-345 — location strings resolve to
  polygon WKT + center via a persistent cache table; cold HTTP misses are
  out of scope here (network-free engine) — the cache join IS the operator.
- Record/Marc.php:273-319 — MARC 760-787 $w link targets resolve to a
  stored record id by (source_id, linking_id); unresolved ids get the
  source prefix.
- Enrichment/AuthEnrichment.php:113+ — author ids pull variant names from
  an authority table.

Spark-first: every one of these is a LEFT equi-join against a small-to-
medium lookup DataFrame. Lookup sides are broadcast by default (vocabulary/
cache/authority tables are MBs, records are TBs) so enrichment never
shuffles the record side — the plan stays narrow per partition. For lookup
tables too large to broadcast, pass ``broadcast_lookup=False`` and bucket
both sides on the join key instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo as GEO
from recordmanager_spark.sparkcompat import try_element_at


def _maybe_broadcast(df: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(df) if broadcast else df


def enrich_with_entities(
    records: DataFrame,
    entities: DataFrame,
    id_col: str,
    uri_col: str,
    out_col: str = "topic_add",
    entity_uri: str = "uri",
    label_cols: tuple[str, ...] = ("pref_labels", "alt_labels"),
    broadcast_lookup: bool = True,
    max_map_entries: int = 2_000,
) -> DataFrame:
    """Add an array column of labels gathered from matched entities.

    records[uri_col] is array<string> of concept URIs. The result column is
    the ordered, de-duplicated union of the matched entities' label arrays
    (SkosmosEnrichment's pref+alt label accumulation).

    Strategy: a SMALL vocabulary (<= ``max_map_entries``) is compiled into a
    literal map and the lookup happens INSIDE the array expression — zero
    shuffles of the record side. The threshold is deliberately low: every
    map entry is an expression-tree node serialized into every task and
    walked by the optimizer, so a 100k-entry literal map is a plan-size
    hazard ("Truncated plan ..." warnings, minutes of driver time) long
    before it is a data-size problem. Larger vocabularies use the
    explode → BROADCAST hash join → groupBy path: the lookup side ships as
    a broadcast table (data, not plan), the record side is never shuffled
    for the join itself, and only the exploded (rid, label-array) hit rows
    — far smaller than the records — move in the gather shuffle.
    """
    ent_rows = None
    if max_map_entries:
        limited = entities.select(
            F.col(entity_uri).alias("u"),
            F.flatten(
                F.array(*[F.coalesce(F.col(c), F.array()) for c in label_cols])
            ).alias("l"),
        ).limit(max_map_entries + 1)
        ent_rows = limited.collect()
        if len(ent_rows) > max_map_entries:
            ent_rows = None
    if ent_rows is not None:
        if ent_rows:
            kv: list[Column] = []
            for r in ent_rows:
                kv.append(F.lit(r.u))
                kv.append(F.array(*[F.lit(x) for x in r.l]))
            lookup = F.create_map(*kv)
            uris = F.coalesce(F.col(uri_col), F.array())
            labels = F.array_distinct(
                F.flatten(
                    F.filter(
                        F.transform(uris, lambda u: try_element_at(lookup, u)),
                        lambda x: x.isNotNull(),
                    )
                )
            )
        else:
            labels = F.array().cast("array<string>")
        return records.withColumn(out_col, labels)
    ent = entities.select(
        F.col(entity_uri).alias("__uri"),
        F.flatten(
            F.array(*[F.coalesce(F.col(c), F.array()) for c in label_cols])
        ).alias("__labels"),
    )
    exploded = records.select(
        F.col(id_col).alias("__rid"),
        F.posexplode_outer(uri_col).alias("__pos", "__uri"),
    )
    joined = exploded.join(_maybe_broadcast(ent, broadcast_lookup), "__uri", "left")
    # unmatched URIs join to NULL labels; coalesce before collecting, since
    # flatten() of an array containing NULL elements is NULL. Sorting by the
    # original position keeps the reference's per-record URI iteration order.
    gathered = joined.groupBy("__rid").agg(
        F.array_distinct(
            F.flatten(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.coalesce(F.col("__pos"), F.lit(0)).alias("__pos"),
                            F.coalesce(F.col("__labels"), F.array()).alias("__labels"),
                        )
                    )
                )["__labels"]
            )
        ).alias(out_col)
    )
    return records.join(
        gathered.withColumnRenamed("__rid", id_col), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.array()))


def geocode_locations(
    records: DataFrame,
    cache: DataFrame,
    location_col: str,
    cache_key: str = "location",
    cache_wkt: str = "wkt",
    wkt_out: str = "location_geo",
    center_out: str = "center_coords",
    broadcast_lookup: bool = True,
) -> DataFrame:
    """Join the geocode cache and derive center coordinates from the WKT.

    The reference's term-simplification retries happen at cache-fill time;
    the steady-state hot path is exactly this lookup (uriCache semantics).
    """
    c = cache.select(
        F.col(cache_key).alias("__loc"), F.col(cache_wkt).alias(wkt_out)
    )
    out = records.join(
        _maybe_broadcast(c, broadcast_lookup),
        F.col(location_col) == F.col("__loc"),
        "left",
    ).drop("__loc")
    return out.withColumn(
        center_out,
        F.when(
            F.col(wkt_out).isNotNull(), GEO.center_coordinates(F.col(wkt_out))
        ).otherwise(F.lit("")),
    )


def _simplify_address(loc: Column) -> Column:
    """The per-try address normalization (NominatimGeocoder.php:271-283):
    cap at 10 words, strip a trailing letter (+optional flat number) after
    a street number."""
    words = F.split(loc, " ")
    capped = F.when(
        F.size(words) > 10, F.array_join(F.slice(words, 1, 10), " ")
    ).otherwise(loc)
    return F.regexp_replace(
        capped, "(.{3,}\\s+(\\d{1,3}))\\s*[a-zA-Z]\\s*\\d*$", "$1"
    )


def _simplify_step(loc: Column, optional_terms: tuple[str, ...]) -> Column:
    """One cache-miss simplification (NominatimGeocoder.php:322-345):
    remove optional terms when more than two words; if that changes
    nothing, drop the last comma segment when more than two remain."""
    cleaned = loc
    if optional_terms:
        for term in optional_terms:
            cleaned = F.when(
                F.size(F.split(cleaned, " ")) > 2,
                F.regexp_replace(
                    cleaned,
                    f"(?i)([\\.\\,\\s]* |^){term}[\\.\\,\\s]*( |$)",
                    " ",
                ),
            ).otherwise(cleaned)
    segs = F.split(loc, ",")
    dropped = F.when(
        F.size(segs) > 2,
        F.array_join(F.slice(segs, 1, F.size(segs) - 1), ","),
    ).otherwise(loc)
    return F.when(cleaned != loc, cleaned).otherwise(dropped)


def geocode_with_simplification(
    records: DataFrame,
    cache: DataFrame,
    location_col: str,
    *,
    id_col: str = "_id",
    cache_key: str = "location",
    cache_wkt: str = "wkt",
    wkt_out: str = "location_geo",
    optional_terms: tuple[str, ...] = (),
    blocklist: tuple[str, ...] = (),
    max_levels: int = 5,
    broadcast_lookup: bool = True,
) -> DataFrame:
    """Geocode with the reference's retry-with-simplification ladder
    (NominatimGeocoder.php:262-345) against an offline cache.

    The reference loops up to 10 times per location, re-querying after each
    simplification. Sequential retries would mean N joins; instead the
    bounded simplification CHAIN is computed up-front as an array column,
    exploded, joined against the cache ONCE, and the hit with the smallest
    simplification level wins — same first-hit-wins semantics, one shuffle
    of only the (id, candidate) pairs. Blocklisted locations never geocode.
    """
    loc = F.col(location_col)
    blocked = F.lit(False)
    for pat in blocklist:
        blocked = blocked | loc.rlike(f"(?i){pat}")

    # Build the level ladder with aggregate() so the step function appears
    # ONCE in the plan and each level binds the previous via a lambda
    # variable. Naively chaining Columns (levels.append(f(levels[-1])))
    # re-embeds the whole previous tree at every reference — the step
    # references its input ~10x, so five levels is ~10^5 expression nodes
    # and the driver OOMs building the plan.
    ladder = F.aggregate(
        F.sequence(F.lit(1), F.lit(max(max_levels - 1, 0))),
        F.array(_simplify_address(loc)),
        lambda acc, _i: F.concat(
            acc,
            F.array(
                _simplify_address(
                    _simplify_step(try_element_at(acc, -1), optional_terms)
                )
            ),
        ),
    )
    chain = F.array_distinct(F.filter(ladder, lambda x: F.trim(x) != ""))
    base = records.withColumn(
        "__chain", F.when(blocked, F.array().cast("array<string>")).otherwise(chain)
    )
    cand = base.select(
        F.col(id_col).alias("__rid"),
        F.posexplode("__chain").alias("__lvl", "__cand"),
    )
    c = cache.select(
        F.col(cache_key).alias("__cand"), F.col(cache_wkt).alias("__wkt")
    )
    hits = cand.join(_maybe_broadcast(c, broadcast_lookup), "__cand")
    best = hits.groupBy("__rid").agg(
        F.min(F.struct(F.col("__lvl"), F.col("__cand"), F.col("__wkt"))).alias("__b")
    )
    out = base.drop("__chain").join(
        best.select(
            F.col("__rid").alias(id_col),
            F.col("__b.__wkt").alias(wkt_out),
            F.col("__b.__cand").alias("geocoded_term"),
            F.col("__b.__lvl").alias("simplify_level"),
        ),
        id_col,
        "left",
    )
    return out.withColumn(
        "center_coords",
        F.when(
            F.col(wkt_out).isNotNull(), GEO.center_coordinates(F.col(wkt_out))
        ).otherwise(F.lit("")),
    )


def resolve_links(
    records: DataFrame,
    targets: DataFrame,
    link_col: str,
    source_col: str = "source_id",
    id_prefix_col: str | None = None,
    target_source: str = "source_id",
    target_linking: str = "linking_id",
    target_id: str = "_id",
    out_col: str = "resolved_id",
    broadcast_lookup: bool = True,
    alt_link_col: str | None = None,
) -> DataFrame:
    """MARC $w resolution: (source_id, link) → stored id, else prefixed id.

    targets[target_linking] may be array<string> (a record's alternative
    linking ids) or a scalar; arrays are exploded into the lookup.

    ``alt_link_col`` names a per-record FALLBACK candidate tried when
    ``link_col`` misses — the reference's createLinkingId ladder
    (Record/Marc.php:284-303): under ``003InLinkingID`` the primary
    candidate is the "(003)id"-wrapped form and the fallback is the raw
    $w. Unresolved links are prefixed from the RAW id (the fallback
    column when given), mirroring ``$this->idPrefix . '.' . $targetId``.
    """
    t = targets
    from pyspark.sql import types as T

    if isinstance(t.schema[target_linking].dataType, T.ArrayType):
        t = t.select(
            F.col(target_source).alias("__tsrc"),
            F.explode(target_linking).alias("__tlink"),
            F.col(target_id).alias("__tid"),
        )
    else:
        t = t.select(
            F.col(target_source).alias("__tsrc"),
            F.col(target_linking).alias("__tlink"),
            F.col(target_id).alias("__tid"),
        )
    t = t.dropDuplicates(["__tsrc", "__tlink"])
    joined = records.join(
        _maybe_broadcast(t, broadcast_lookup),
        (F.col(source_col) == F.col("__tsrc")) & (F.col(link_col) == F.col("__tlink")),
        "left",
    )
    resolved = F.col("__tid")
    raw = F.col(alt_link_col) if alt_link_col else F.col(link_col)
    if alt_link_col:
        t2 = t.select(
            F.col("__tsrc").alias("__tsrc2"),
            F.col("__tlink").alias("__tlink2"),
            F.col("__tid").alias("__tid2"),
        )
        joined = joined.join(
            _maybe_broadcast(t2, broadcast_lookup),
            (F.col(source_col) == F.col("__tsrc2"))
            & (F.col(alt_link_col) == F.col("__tlink2")),
            "left",
        )
        resolved = F.coalesce(resolved, F.col("__tid2"))
    prefix = (
        F.col(id_prefix_col)
        if id_prefix_col
        else F.col(source_col)
    )
    out = joined.withColumn(
        out_col, F.coalesce(resolved, F.concat(prefix, F.lit("."), raw))
    ).drop("__tsrc", "__tlink", "__tid")
    return out.drop("__tsrc2", "__tlink2", "__tid2") if alt_link_col else out


def enrich_authors(
    records: DataFrame,
    authorities: DataFrame,
    author_id_col: str,
    auth_id: str = "auth_id",
    variants_col: str = "variant_names",
    out_col: str = "author_variant",
    broadcast_lookup: bool = True,
) -> DataFrame:
    """Author-id → authority variant names (AuthEnrichment semantics)."""
    a = authorities.select(
        F.col(auth_id).alias("__aid"),
        F.coalesce(F.col(variants_col), F.array()).alias(out_col),
    )
    out = records.join(
        _maybe_broadcast(a, broadcast_lookup),
        F.col(author_id_col) == F.col("__aid"),
        "left",
    ).drop("__aid")
    return out.withColumn(out_col, F.coalesce(F.col(out_col), F.array()))


def enrich_music_ids(
    records: DataFrame,
    mb_lookup: DataFrame,
    id_col: str = "_id",
    title_col: str = "title_short",
    music_ids_col: str = "music_ids",
    pub_numbers_col: str = "publisher_numbers",
    out_col: str = "mbid_str_mv",
    broadcast_lookup: bool = True,
) -> DataFrame:
    """MusicBrainz-id enrichment (Enrichment/MusicBrainzEnrichment.php:78-140).

    records[music_ids] is array<struct<type,value>>; types map isrc→isrc,
    upc/ismn/ian→catno (title-guarded), musicb→reid; others drop.
    records[publisher_numbers] is array<struct<source,value>>: the
    source-qualified catalog number matches unguarded; the bare number is
    the fallback and requires a title match — per number, the qualified
    match wins when present.

    mb_lookup: (id_type, id_value, title, mbid); NULL title = no guard.
    Offline-join form of the reference's rate-limited HTTP queries: the
    lookup broadcasts, the record side stays narrow plus one gather.
    """
    from ..functions.keys import normalize_key

    mb = mb_lookup.select(
        F.col("id_type").alias("__t"),
        F.col("id_value").alias("__v"),
        F.col("title").alias("__mbtitle"),
        F.col("mbid").alias("__mbid"),
    )
    mb = _maybe_broadcast(mb, broadcast_lookup)

    base = records.select(
        F.col(id_col).alias("__rid"),
        F.col(title_col).alias("__title"),
        F.col(music_ids_col).alias("__mids"),
        F.col(pub_numbers_col).alias("__pnums"),
    )

    # music ids: type mapping + guard flag
    mids = base.select(
        "__rid", "__title", F.explode_outer("__mids").alias("__m")
    ).select(
        "__rid",
        "__title",
        F.when(F.col("__m.type") == "isrc", F.lit("isrc"))
        .when(F.col("__m.type").isin("upc", "ismn", "ian"), F.lit("catno"))
        .when(F.col("__m.type") == "musicb", F.lit("reid"))
        .alias("__t"),
        F.col("__m.value").alias("__v"),
    ).where(F.col("__t").isNotNull())
    guarded = F.col("__t") == "catno"
    m_hits = mids.join(mb, ["__t", "__v"]).where(
        ~guarded
        | F.col("__mbtitle").isNull()
        | (normalize_key(F.col("__mbtitle")) == normalize_key(F.col("__title")))
    ).select("__rid", "__mbid", F.lit(0).alias("__prio"))

    # publisher numbers: qualified "source value" first, bare+title fallback
    pnums = base.select(
        "__rid", "__title", F.explode_outer("__pnums").alias("__p")
    ).select(
        "__rid",
        "__title",
        F.col("__p.source").alias("__src"),
        F.col("__p.value").alias("__num"),
    ).where(F.col("__num").isNotNull())
    q_hits = (
        pnums.where(F.col("__src").isNotNull() & (F.col("__src") != ""))
        .withColumn("__t", F.lit("catno"))
        .withColumn("__v", F.concat_ws(" ", "__src", "__num"))
        .join(mb, ["__t", "__v"])
        .select("__rid", F.col("__num").alias("__pn"), "__mbid", F.lit(1).alias("__prio"))
    )
    f_hits = (
        pnums.withColumn("__t", F.lit("catno"))
        .withColumn("__v", F.col("__num"))
        .join(mb, ["__t", "__v"])
        .where(
            F.col("__mbtitle").isNull()
            | (normalize_key(F.col("__mbtitle")) == normalize_key(F.col("__title")))
        )
        .select("__rid", F.col("__num").alias("__pn"), "__mbid", F.lit(2).alias("__prio"))
    )
    # per (record, number): fallback only when the qualified form missed
    pn_all = q_hits.unionByName(f_hits)
    from pyspark.sql import Window

    wp = Window.partitionBy("__rid", "__pn")
    pn_best = (
        pn_all.withColumn("__minp", F.min("__prio").over(wp))
        .where(F.col("__prio") == F.col("__minp"))
        .select("__rid", "__mbid", F.lit(1).alias("__prio"))
    )

    hits = m_hits.unionByName(pn_best)
    gathered = hits.groupBy("__rid").agg(
        F.array_distinct(
            F.array_sort(F.collect_list(F.struct("__prio", "__mbid")))["__mbid"]
        ).alias(out_col)
    )
    return records.join(
        gathered.withColumnRenamed("__rid", id_col), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.array()))


# ---------------------------------------------------------------------------
# uriCache: TTL cache semantics for external enrichment fetches
# ---------------------------------------------------------------------------
#
# Behavioral spec (reference, NOT code):
# Enrichment/AbstractEnrichment.php getExternalData (:206-330) — a cached
# row answers when its timestamp is newer than now - maxCacheAge (default
# cache_expiration = 10080 minutes = 7 days, :186-189); a miss or expired
# row is fetched with progressive retry (retry_wait doubling, capped at
# 30 s, max_tries, :243-305) and upserted with a fresh timestamp (:317-326).
#
# Spark-first: the cache is a DataFrame keyed by _id; the TTL split is one
# LEFT join (cache side broadcast when it fits), the upsert is an
# anti-join + union. The ONLY network-touching piece is the caller-supplied
# fetcher function, applied to the (small) miss list via mapInPandas — the
# engine itself stays network-free, mirroring how the geocode operator
# treats its cache table as the source of truth.

DEFAULT_CACHE_EXPIRATION_MINUTES = 10080  # 7 days, recordmanager.ini.sample


def uri_cache_split(
    requests: DataFrame,
    cache: DataFrame,
    now: "int | float",
    max_age_minutes: int = DEFAULT_CACHE_EXPIRATION_MINUTES,
    id_col: str = "_id",
    broadcast_cache: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Split enrichment requests into (hits, misses) against the uriCache.

    ``requests`` carries one row per needed URI with an ``id_col`` cache
    key; ``cache`` is the uriCache table (``_id``, ``timestamp`` unix
    seconds, ``url``, ``data``). Hits get a ``data`` column; misses are
    the fetch worklist (absent OR expired rows — the reference's
    ``timestamp > now - maxCacheAge`` filter, AbstractEnrichment.php:217).
    ``now`` is explicit so runs are deterministic and retryable.
    """
    cutoff = float(now) - max_age_minutes * 60
    fresh = cache.where(F.col("timestamp") > cutoff).select(
        F.col("_id").alias("__uc_id"),
        F.col("data").alias("data"),
    )
    joined = requests.join(
        _maybe_broadcast(fresh, broadcast_cache),
        requests[id_col] == F.col("__uc_id"),
        "left",
    )
    hits = joined.where(F.col("__uc_id").isNotNull()).drop("__uc_id")
    misses = joined.where(F.col("__uc_id").isNull()).drop("__uc_id", "data")
    return hits, misses


def uri_cache_upsert(
    cache: DataFrame, fetched: DataFrame, id_col: str = "_id"
) -> DataFrame:
    """Upsert fetched rows into the cache (same-id rows are replaced —
    saveUriCache overwrites by _id, AbstractEnrichment.php:317-326)."""
    keep = cache.join(
        fetched.select(F.col(id_col).alias("__new_id")),
        cache[id_col] == F.col("__new_id"),
        "left_anti",
    )
    return keep.unionByName(fetched.select(*keep.columns))


def fetch_uris(
    misses: DataFrame,
    fetcher,
    now: "int | float",
    id_col: str = "_id",
    url_col: str = "url",
) -> DataFrame:
    """Apply a fetcher to the miss worklist, producing uriCache rows.

    ``fetcher(url) -> str`` runs inside an Arrow-batched mapInPandas over
    the miss list ONLY (bounded by cache misses, not corpus size). This is
    the single network boundary; pass a deterministic fake for tests or an
    HTTP client in a connected deployment.
    """
    import pandas as pd  # noqa: PLC0415

    ts = float(now)
    out_schema = f"{id_col} string, timestamp double, {url_col} string, data string"

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "timestamp": ts,
                    url_col: pdf[url_col],
                    "data": pdf[url_col].map(fetcher),
                }
            )

    return misses.select(id_col, url_col).mapInPandas(run, out_schema)
