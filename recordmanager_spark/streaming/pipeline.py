"""Incremental pipelines: watermark-driven batch + Structured Streaming.

The reference's "streaming" is incremental batch over monotonically
increasing ``updated`` timestamps with a persisted watermark per sink
(SolrUpdater.php:860-903, 1582-1640; ``state`` table). Both forms here:

- ``WatermarkStore``: the exact reference shape — ``update-index`` reads
  the watermark, processes ``updated >= wm`` rows, and persists the new
  watermark (the ``state`` collection analogue).
- ``streaming_events``: Structured Streaming with event-time
  watermarking + windowed aggregation — the shape late/out-of-order data
  takes when the engine fronts a real stream.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class WatermarkStore:
    """Tiny key->timestamp state store (the reference's ``state`` table,
    dbscripts/mysql.sql:53-56). JSON file locally; a Delta table on a
    cluster — the interface is the contract. Every write goes to a
    sibling tmp file and is swapped in with ``os.replace``, so a crash
    mid-write leaves the previous state, never a truncated file."""

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, data: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, sort_keys=True)
        os.replace(tmp, self.path)

    def get(self, key: str, default=None):
        return self._load().get(key, default)

    def set(self, key: str, value) -> None:
        data = self._load()
        data[key] = value
        self._save(data)

    def clear(self, key: str) -> None:
        data = self._load()
        data.pop(key, None)
        self._save(data)


def streaming_events(stream: DataFrame, window: str) -> DataFrame:
    """Windowed event aggregation with late-data watermarking:
    ``stream`` (``ts``, ``event_type``, ``value``) -> withWatermark ->
    per-``window`` (``win``) and ``event_type`` row count ``n`` and
    ``total_value``; callers attach a sink (memory sink in tests via
    processAllAvailable)."""
    ts_col = "ts"
    watermark = "10 minutes"
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
    )


def dedup_new_or_changed(stream: DataFrame):
    """Stateful streaming dedup: emit a record only when its content hash
    is new or changed since the last emission for that id.

    The reference's upsert skips unchanged records per id
    (StoreRecordTrait.php:193-229 compares stored vs incoming payload);
    this is that behavior as a custom stateful operator —
    ``applyInPandasWithState`` keyed by record id, state = last hash.
    State is partitioned by id across executors, so cardinality scales
    with the cluster; late re-deliveries of identical payloads are
    suppressed exactly once per change.
    """
    id_col = "_id"
    hash_col = "content_hash"
    import pandas as pd  # noqa: F401 (worker-side import)

    out_schema = f"{id_col} string, {hash_col} string, is_new boolean"
    state_schema = "last_hash string"

    def fn(key, pdfs, state):
        last = state.get[0] if state.exists else None
        rows = []
        for pdf in pdfs:
            for h in pdf[hash_col]:
                if h != last:
                    rows.append((key[0], h, last is None))
                    last = h
        if last is not None:
            state.update((last,))
        if rows:
            import pandas as pd

            yield pd.DataFrame(rows, columns=[id_col, hash_col, "is_new"])

    return (
        stream.groupBy(id_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def streaming_first_seen(
    stream: DataFrame,
    emit_updates: bool = False,
    state_ttl_seconds: float | None = None,
):
    """Streaming exact content dedup: the FIRST document per content
    fingerprint passes; every later arrival with the same fingerprint is
    suppressed, across micro-batches and restarts.

    ``applyInPandasWithState`` keyed by the FINGERPRINT (not the record
    id — dedup_new_or_changed's complement): state holds the winning
    document id and an occurrence counter. Emitted rows carry
    (fingerprint, doc_id, n_seen) where doc_id is the winner. Emission
    semantics:

    - ``emit_updates=False`` (default): a fingerprint emits exactly ONCE,
      on its first batch, with ``n_seen`` = arrivals observed BY THE END
      OF THAT BATCH (within-batch contention). Suppressed arrivals in
      later batches update state but are NOT re-emitted — the output is
      the deduped stream, not a running suppression audit.
    - ``emit_updates=True``: the fingerprint ALSO re-emits an updated
      (fingerprint, winner, n_seen) row on every later batch it arrives
      in (outputMode is already ``update``, so upsert sinks see the
      counter converge) — use this mode to audit suppression rates.

    Within-batch ties break to the smallest id; across batches strictly
    first-seen wins. State cardinality = distinct contents,
    hash-partitioned across executors like every keyed-state operator.

    ``state_ttl_seconds`` bounds that cardinality for unbounded streams
    (at 100 TB/day of content the distinct-fingerprint state otherwise
    grows without limit): a fingerprint idle past the TTL is evicted
    via a processing-time timeout, so a LATER duplicate re-admits and
    re-emits as first-seen — the standard watermark-bounded dedup
    trade (cf. dropDuplicatesWithinWatermark): exact within the TTL
    window, approximate beyond it. ``None`` (default) keeps exact
    forever-dedup semantics with state ∝ distinct contents.

    TTL requires a RUNNING trigger cadence (the default micro-batch
    trigger or ``processingTime=...``): under ``availableNow``/``once``
    replays a registered processing-time timeout keeps the micro-batch
    engine scheduling empty batches and the query never terminates
    (observed on Spark 4.x) — batch-style replays should pass
    ``state_ttl_seconds=None`` and bound state by splitting the input
    instead.
    """
    fingerprint_col = "fingerprint"
    id_col = "doc_id"
    out_schema = f"{fingerprint_col} string, {id_col} string, n_seen long"
    state_schema = f"winner string, n long"
    ttl_ms = (
        int(state_ttl_seconds * 1000) if state_ttl_seconds is not None else None
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if getattr(state, "hasTimedOut", False):
            # cold fingerprint: forget it (bounded-state mode); nothing
            # is emitted — eviction is invisible until a re-arrival
            state.remove()
            return
        if state.exists:
            winner, n = state.get
        else:
            winner, n = None, 0
        first_emit = winner is None
        arrived = False
        for pdf in pdfs:
            for doc in pdf[id_col]:
                arrived = True
                n += 1
                if winner is None or (first_emit and doc < winner):
                    # within one micro-batch "first" must be defined
                    # deterministically (pandas order is partition-
                    # dependent): smallest id wins the tie; across
                    # batches strictly first-seen wins
                    winner = doc
        state.update((winner, n))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if winner is not None and (first_emit or (emit_updates and arrived)):
            yield pd.DataFrame(
                [(key[0], winner, n)],
                columns=[fingerprint_col, id_col, "n_seen"],
            )

    return (
        stream.groupBy(fingerprint_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
            ),
        )
    )


def streaming_minhash_neardup(
    stream: DataFrame,
    threshold: float = 0.5,
    state_ttl_seconds: float | None = None,
    register_matches: bool = False,
):
    """Streaming NEAR-duplicate detection: minhash/LSH as a stateful
    streaming operator (streaming_first_seen's fuzzy sibling).

    Everything before the keyed state is SCAN-STAGE on the micro-batch:
    the per-document minhash signature evaluates as one row-local
    expression (the shingle-hash array is let-bound through a
    one-element ``transform`` so its md5 pass runs ONCE per row, not
    once per permutation — the lm_score idiom; a groupBy-based
    signature like the batch path's would be a second stateful operator,
    which Structured Streaming restricts), then LSH band keys explode
    exactly as in the batch engine (same md5→60-bit→XOR-permutation
    family, same banding — a corpus deduped in batch and a stream
    deduped here agree on the family).

    The ONE stateful hop groups by (band, band_key):
    ``applyInPandasWithState`` holds up to ``reps_per_bucket``
    (id, signature) representatives per bucket — the streaming analogue
    of the batch engine's bucket/hub cap, so state per bucket is
    bounded no matter how much boilerplate collapses into it. Each
    arriving document compares against the stored representatives
    (signature agreement >= ``threshold``, the Broder estimate) and
    either EMITS its best match — ``(doc_id, band, band_key,
    matched_id, est_jaccard)``, deterministic: highest agreement, then
    smallest matched id; within a batch docs process in id order — or
    registers as a new representative while the bucket has room. A
    saturated bucket neither matches nor registers the doc (it still
    probes its other ``bands - 1`` buckets). A doc may emit in several
    bands; consumers wanting one verdict per doc take min(matched_id)
    per doc_id in their sink batch — kept out of this operator because
    a second keyed aggregation would again chain stateful operators.

    DIVERGENCE FROM BATCH near-dup semantics (beyond the documented
    bucket-cap/TTL trades): by default a document that MATCHES a
    representative is never itself registered, so drifting chains
    diverge from the batch connected-component behavior — if B matches
    rep A and is dropped, a later C near B but below threshold vs A
    re-registers as novel instead of joining A's component. Batch dedup
    of the same corpus (minhash_near_duplicates + connected components)
    would merge A-B-C transitively; the default's recall on
    slowly-mutating boilerplate is therefore strictly lower, in
    exchange for state that never grows past reps_per_bucket per
    bucket. ``register_matches=True`` narrows the gap WITHOUT
    unbounding state: a matched document also registers as a
    representative while its bucket has room, so C finds B and chains
    into A's component (consumers resolve the chain with their usual
    min(matched_id) sink step) — the bucket cap still bounds state, so
    a chain longer than reps_per_bucket still truncates. Consumers
    needing exact batch-equivalent transitive recall should run the
    batch engine over a window of the stream instead.

    State cardinality = distinct occupied buckets x reps_per_bucket
    signatures, hash-partitioned across executors.
    ``state_ttl_seconds`` additionally bounds it in TIME for unbounded
    streams: a bucket idle past the TTL evicts its representatives via
    a processing-time timeout, so a later near-duplicate of evicted
    content re-registers instead of matching — the same
    exact-within-the-window trade (and the same RUNNING-trigger
    requirement) as streaming_first_seen's TTL.
    """
    id_col = "doc_id"
    text_col = "text"
    num_perm = 16
    shingle_n = 3
    bands = 4
    rows_per_band = 4
    reps_per_bucket = 16
    from ..functions.text import normalize_for_fingerprint, tokenize
    from ..operators.text_dedup import _PERM_XOR, _band_key_array

    toks = tokenize(normalize_for_fingerprint(text_col))
    # shingles: distinct word n-grams, whole-text fallback for short
    # docs (token_ngrams semantics, rebuilt here over the bound column)
    from ..functions.text import ngrams_from_tokens

    shingles = ngrams_from_tokens(toks, shingle_n)
    xors = ",".join(f"{int(_PERM_XOR[p])}L" for p in range(num_perm))
    sig_sql = (
        "try_element_at(transform(array(transform(__sh, s -> "
        "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))), "
        f"hs -> transform(array({xors}), x -> "
        "array_min(transform(hs, h -> h ^ x)))), 1)"
    )
    banded = (
        stream.select(
            F.col(id_col).cast("string").alias("__id"),
            shingles.alias("__sh"),
        )
        .select("__id", F.expr(sig_sql).alias("sig"))
        .select(
            "__id",
            F.posexplode(_band_key_array(bands, rows_per_band)).alias(
                "band", "band_key"
            ),
            "sig",
        )
    )

    out_schema = (
        f"{id_col} string, band int, band_key string, "
        "matched_id string, est_jaccard double"
    )
    state_schema = "ids array<string>, sigs array<string>"

    ttl_ms = (
        int(state_ttl_seconds * 1000) if state_ttl_seconds is not None else None
    )

    def fn(key, pdfs, state):
        import pandas as pd

        if getattr(state, "hasTimedOut", False):
            state.remove()  # cold bucket: forget its representatives
            return
        if state.exists:
            ids = list(state.get[0])
            sigs = [[int(x) for x in s.split(",")] for s in state.get[1]]
        else:
            ids, sigs = [], []
        out = []
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["__id"], pdf["sig"]))
        # id order makes within-batch rep registration deterministic
        # regardless of arrow batch partitioning
        rows.sort(key=lambda r: r[0])
        for doc, sig in rows:
            sigl = [int(x) for x in sig]
            best_id, best_agr = None, -1.0
            for rid, rsig in zip(ids, sigs):
                n_eq = sum(1 for a, b in zip(sigl, rsig) if a == b)
                agr = n_eq / float(len(sigl))
                if agr >= threshold and (
                    agr > best_agr
                    or (agr == best_agr and (best_id is None or rid < best_id))
                ):
                    best_id, best_agr = rid, agr
            if best_id is not None:
                out.append(
                    (doc, int(key[0]), key[1], best_id, round(best_agr, 6))
                )
                if register_matches and len(ids) < reps_per_bucket:
                    # matched docs become reps too (while room): later
                    # drift-chain members match B where they miss A
                    ids.append(doc)
                    sigs.append(sigl)
            elif len(ids) < reps_per_bucket:
                ids.append(doc)
                sigs.append(sigl)
        state.update((ids, [",".join(map(str, s)) for s in sigs]))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=[id_col, "band", "band_key", "matched_id", "est_jaccard"],
            )

    return banded.groupBy("band", "band_key").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            "ProcessingTimeTimeout" if ttl_ms is not None else "NoTimeout"
        ),
    )
