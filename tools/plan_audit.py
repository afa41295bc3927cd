"""Physical-plan audit: assert the scale-critical properties hold.

Correctness says an operator works at sf0.01; THIS gate says the plan
would still be the right plan at 100 TB. For each audited query it
checks, from ``explain("formatted")`` output:

- parquet scans carry PushedFilters / a pruned ReadSchema where expected
- small dimension joins are broadcast (no shuffle of the big side)
- the number of exchanges (shuffles) does not exceed the operator's
  irreducible count
- no CartesianProduct outside the explicitly-exact all-pairs oracles

Usage: python tools/plan_audit.py [sf_dir]
Exit 0 = every assertion holds.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from recordmanager_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def count_operator_exchanges(plan: str) -> int:
    """Count Exchange NODES structurally from formatted-plan text,
    excluding round-robin input spreads.

    Parses the formatted plan's numbered detail headers ("(N) Exchange")
    and inspects each node's own detail block for its partitioning
    argument — robust against ReusedExchange, AQE re-prints, and
    incidental 'RoundRobinPartitioning' mentions elsewhere (a regex
    subtraction scheme under-counted when the plan shape deviated from
    two prints per node). The harness's _t() spreads single-row-group
    toy parquet over the cores with a round-robin repartition (a real
    corpus arrives in thousands of natural splits), so round-robin
    exchanges are input plumbing, not operator shuffles.

    Text fallback only — :func:`unique_exchange_count` is the audited
    metric (see its docstring for why node counting over-counts).
    """
    sections = re.split(r"^\(\d+\) ", plan, flags=re.M)
    n = 0
    for body in sections[1:]:
        if body.startswith("Exchange") and "RoundRobinPartitioning" not in (
            body.split("\n\n")[0]
        ):
            n += 1
    return n


def unique_exchange_count(df) -> int:
    """Count UNIQUE shuffle exchanges by canonicalized semantic hash —
    the number of shuffle stages a run actually pays for.

    A DataFrame consumed by several plan branches (a self-join, a size
    census joined back, a signature table probed twice) duplicates its
    whole subtree in the printed plan, so node counting charges the
    same shuffle N times. At runtime Spark reuses those stages — the
    non-AQE ReuseExchange rule and AQE's stage cache both key on the
    canonicalized plan — so the honest scale metric is the number of
    DISTINCT canonical exchanges. Verified empirically: a 3-consumer
    expensive aggregate executes its shuffle map stage once (the
    round-6/7 bucket_pairs work is the motivating case — the banded
    subtree feeds the size census, the anti/semi prefilters, and the
    pair join, but materializes once).

    Round-robin input spreads (the _t() toy-parquet plumbing) are
    excluded, same as the text counter. Traverses children AND
    subqueries of the pre-AQE physical plan via py4j; falls back to
    the text parser if the JVM walk fails.
    """
    try:
        sp = df._jdf.queryExecution().executedPlan()
        if sp.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            # pre-execution AQE wrapper: exchanges live in the initial
            # plan (sparkPlan() predates EnsureRequirements and has none)
            sp = sp.initialPlan()
        seen: set = set()
        stack = [sp]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "ShuffleExchangeExec":
                if "RoundRobinPartitioning" not in node.outputPartitioning().toString():
                    seen.add(node.canonicalized().semanticHash())
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
            sq = node.subqueries()
            for i in range(sq.size()):
                stack.append(sq.apply(i))
        return len(seen)
    except Exception:
        return count_operator_exchanges(plan_of(df))


# (query, max_exchanges, require_broadcast, allow_cartesian, note)
# max_exchanges counts UNIQUE canonical exchanges in the INITIAL plan
# (unique_exchange_count — round-robin input spreads excluded; AQE may
# coalesce at runtime but never adds); top-k single-partition exchanges
# are counted as irreducible where the semantics demand a global order.
# Caps recalibrated twice: 2026-08 when the counter switched from regex
# subtraction to structural node parsing, and round 7 when it switched
# from node counting to canonical-hash dedup — a self-join or size
# census duplicates its subtree in the printed plan but the runtime
# reuses the stage (ReuseExchange / AQE stage cache), so node counting
# charged the same shuffle several times. Each cap is the measured
# unique-stage count at sf0.01.
AUDITS = [
    ("index_diff_docs", 3, True, False,
     "melt is row-local (inline generator, zero pre-join shuffles); the "
     "3 unique exchanges are the full-outer diff join's two sides on "
     "the unique (id, field) key — skew-free at any corpus size — plus "
     "the record-ids distinct feeding a broadcast semi"),
    ("check_index_docs", 0, True, False,
     "two anti-join-shaped probes; at sf the record side broadcasts "
     "(AQE decides — at 100 TB both sides SMJ on id, still one "
     "exchange each, no window anywhere)"),
    ("optout_filter_docs", 0, False, False,
     "robots-directive regexes are scan-stage expressions; any shuffle "
     "is a bug"),
    ("renormalize_marc", 0, False, False,
     "the immediate-renormalize pass is one scan-stage chain: parse "
     "(Arrow) -> key/flag/host expressions -> mapInArrow "
     "re-serialization; zero exchanges — the pass scales with the scan "
     "exactly like the reference's cursor walk, minus the round trips"),
    ("image_resize_docs", 0, False, False,
     "generator -> decode+resize (two chained Arrow Python scans) -> "
     "row-local pixel explode: zero exchanges end to end — resize "
     "parallelism is exactly the input scan's"),
    ("q1_pricing_summary", 1, False, False,
     "scan->partial agg->1 shuffle (sort-free: the driver compares sorted)"),
    ("q3_shipping_priority", 1, True, False,
     "broadcast customer; lineitem⋈orders is the only record-side shuffle"),
    ("q5_local_supplier_volume", 1, True, False,
     "all dims broadcast; lineitem⋈orders shuffle + agg"),
    ("filter_dsl_orders", 0, False, False,
     "pure filter: predicate must reach the scan, zero shuffles"),
    ("marc_extract", 0, False, False,
     "extraction is scan-stage only — any shuffle is a bug"),
    ("link_resolution_lineitem", 1, True, False,
     "lookup join broadcasts; the exchange is the LOOKUP side's "
     "dropDuplicates (bounded by lookup size) — records never shuffle"),
    ("enrich_topics_nation", 0, False, False,
     "small-vocab literal-map path: zero shuffles, no join at all"),
    ("geocode_customers", 0, True, False,
     "cache join broadcasts; record side stays narrow"),
    ("dedup_er", 3, False, False,
     "one component pass: construction local-checkpoints the per-record "
     "payload (the one record scan; keys and verify fields computed "
     "once), then the sizing take() runs the one blocking-key shuffle "
     "(101-cap, no pair distinct) over the checkpoint and resolves "
     "components driver-side, falling back to distributed label "
     "propagation past 2M edges — the registered plan is then the local "
     "assignment relation (0-3 exchanges depending on path)"),
    ("exact_dup_docs", 3, False, False,
     "fingerprint canonical-id via map-side-combinable groupBy(fp) + "
     "join-back (AQE-skew-eligible), NOT a window on the unbounded fp "
     "key: hot boilerplate fingerprints collapse to one row per map "
     "task before the shuffle; toy-scale plan broadcasts the canon "
     "side (1 exchange), 100 TB SMJ path is 3"),
    ("minhash_near_dup", 4, True, False,
     "bounded-state bucket pairing, census join-back shape (r8): the "
     "banded rows shuffle ONCE on the bucket key; the size census "
     "shuffles map-combined (bucket, count) partials and equi-joins "
     "back co-partitioned (shuffle_hash, never broadcast — the census "
     "is corpus-sized at 100 TB); small/big routing is a filter on "
     "__n, and the pair collect, rep min_by, and hub join all inherit "
     "the bucket partitioning exchange-free (ReusedExchange verified); "
     "every post-signature exchange carries doc-count-bounded rows, "
     "never shingles, and no aggregation buffer exceeds the bucket cap"),
    ("knn_bruteforce", 1, True, True,
     "exact oracle: broadcast nested loop IS the plan (query side tiny)"),
    ("embedding_neardup", 1, True, True,
     "exact oracle variant (broadcast right side)"),
    ("knn_pq_full", 1, True, False,
     "PQ/ADC: encode is a scan-stage projection (codebooks = plan "
     "literals, zero shuffles — pinned in tests/test_pq.py); scoring "
     "is a broadcast nested loop of code bytes against the broadcast "
     "query distance tables; the ONE exchange is the per-query "
     "ranking window (sort-based, spills) — the corpus contributes "
     "only its m-byte codes, the 32x-compression story at 100 TB"),
    ("knn_ivfadc_full", 1, True, False,
     "IVFADC: coarse assign + residual PQ encode are one scan-stage "
     "projection (centroids/codebooks = plan literals); the query's "
     "probed cells EXPLODE to (query_id, cell, cell-sliced ADC table) "
     "rows and the corpus equi-joins on cell — a broadcast HASH join, "
     "one O(1) probe per corpus row (r8: replaced the crossJoin+"
     "array_contains O(N*Q) predicate scan); the ONE exchange is the "
     "per-query ranking window"),
    ("exact_substring_dedup_docs", 2, True, False,
     "gram-hash groupBy + per-doc position groupBy; no planted hint on "
     "the positions join — at toy scale the optimizer's size estimate "
     "picks broadcast itself, at 100 TB dup rates AQE keeps the "
     "shuffle-hash path (the scale-safe default)"),
    ("quality_buckets_docs", 1, True, False,
     "one few-row per-language percentile groupBy; thresholds broadcast "
     "back; assignment is scan-stage — the corpus never shuffles"),
    ("temperature_mix_docs", 0, False, False,
     "weight table is driver-computed literals; the epoch expansion is "
     "map-side explode — zero shuffles"),
    ("url_blocklist_docs", 0, False, False,
     "pure scan-stage projection (host regex + literal-array membership)"),
    ("config_pipeline_orders", 0, False, False,
     "config-compiled rewrites are withColumn projections — zero shuffles"),
    ("llm_corpus_pipeline_docs", 1, False, False,
     "the whole pipeline shares ONE shuffle: the canonical-URL window; "
     "quality gate and split are scan-stage on the window's output"),
    ("bloom_contamination_docs", 0, False, False,
     "filter built at construction (bounded distinct-positions pass); "
     "the corpus check is scan-stage literal-array bit tests — zero "
     "shuffles, no join, the benchmark never reaches the corpus side"),
    ("cluster_corpus_embeddings", 1, True, False,
     "centroids live driver-side (seed collect at construction); the "
     "assignment is an Arrow argmax SCAN; exchanges = the n_cells-row "
     "stats groupBy + its reuse — centroids/stats broadcast back, the "
     "corpus never shuffles"),
    ("minhash_incremental_docs", 5, True, False,
     "index + batch signature groupBys (map-side-combined, doc-bounded) "
     "+ the capped candidate groupBy + the batch-keyed ranking window; "
     "the banded probe join and all scoring joins BROADCAST the batch "
     "side — the index side never shuffles for the probe. 9 not 6 since "
     "the within-batch self-probe (ADVICE r5): the batch signature "
     "subtree is referenced three times (probe keys, self-probe keys, "
     "sig pool), each re-planning its batch-bounded groupBy — every "
     "added exchange carries BATCH rows only, never the index"),
    ("train_split_docs", 0, False, False,
     "hash-interval assignment is a scan-stage projection — zero shuffles"),
    ("exact_dup_incremental_docs", 2, False, False,
     "incremental exact dedup (r8): fingerprinting is scan-stage; the "
     "contract query builds its index inline (index groupBy + probe "
     "join sides + the within-batch miss groupBy + its join-back); the "
     "production path replaces every index-side exchange with the "
     "bucketed catalog read (zero, pinned in tests/test_text_dedup.py)"),
    ("minhash_calibration_docs", 3, False, False,
     "calibration diagnostic (r8): the signature groupBy (map-side-"
     "combined mins) + the shingle-set groupBy + the adjacent-id pair "
     "join side; every scoring join keys on the unique doc id "
     "(skew-free, AQE-sized) — no windows, no unbounded state"),
    ("corpus_config_pipeline_docs", 3, False, False,
     "config-compiled curation (r8): lang keep + token gate are "
     "scan-stage; the exchanges are exact-dedup's keeper groupBy + "
     "semi join-back and the frequency cap's census join-back (both "
     "map-side-combinable, no windows); sample/split scan-stage"),
    ("corpus_config_minhash_docs", 6, False, False,
     "r9 config vocabulary: lang keep + blocklist token gate are "
     "scan-stage; the 6 unique exchanges are the minhash engine's 4 "
     "(signature groupBy, banded rows, census partials, pair "
     "distinct — CC itself resolves driver-side at construction) + "
     "near_dup_prune's clustered-rows window + the decontamination "
     "hit-count groupBy; the benchmark gram set broadcasts, the "
     "corpus never joins anything corpus-sized"),
    ("lm_perplexity_docs", 0, False, False,
     "hashed backoff bigram LM gate (r8): training is construction-time "
     "bounded aggregation (state <= b1/b2 hash buckets, logs fixed to "
     "integer micros driver-side); scoring folds over the token array "
     "with the micro tables as plan literals — zero shuffles, no join, "
     "the corpus is read once at any scale"),
    ("domain_cap_docs", 2, False, False,
     "per-group frequency cap (census join-back, r8): one group-count "
     "census exchange + the co-partitioned stream-side exchange; the "
     "keep filter is scan-stage on the join output — NO window over "
     "the hot domain key, and the census never broadcasts (one row per "
     "domain is corpus-sized at crawl scale)"),
    ("corpus_token_stats_docs", 2, False, False,
     "corpus scanned ONCE: one map-side-combined groupBy on "
     "(source,lang) + a single-partition window over the few grouped "
     "rows for the global share"),
    ("nb_quality_docs", 0, False, False,
     "training collects happen at construction; scoring is a scan-stage "
     "projection (weights = plan literal array) — zero shuffles"),
    ("dsir_select_docs", 1, False, False,
     "stat passes are construction-time bounded aggregations; the final "
     "plan is scan-stage scoring (ratio table = plan literal, no join) "
     "+ a global top-k (at most one single-partition merge exchange)"),
    ("url_canonical_dedup_docs", 1, False, False,
     "canonicalization is a scan-stage projection; the ONE exchange is "
     "the ranking window's hash partition on the canonical URL"),
    ("chunk_documents_docs", 0, False, False,
     "map-side explode(sequence)+substring: zero shuffles at any corpus size"),
    ("bpe_tokenize_docs", 0, False, False,
     "encode is a scan-stage replace chain — zero shuffles (the word-count "
     "training stage is a separate, vocabulary-bounded groupBy)"),
    ("hamming_neardup_hashes", 4, False, False,
     "generic banded Hamming engine, census join-back shape (r8): one "
     "banded-rows exchange + the map-combined census exchange + the "
     "pair distinct; the within-cap self-join, rep min_by, and hub "
     "join all run on the inherited bucket partitioning — every "
     "exchange carries one (band, id, hash) row per item-band — same "
     "shape as simhash_near_dup, reused for aHash"),
    ("tfidf_keywords_docs", 6, True, True,
     "token tf groupBy (doc,term) + the df-table re-agg and its term-"
     "keyed join side + per-doc top-k groupBy — all narrow (term, count)"
     " rows after the one corpus scan; the corpus doc count joins back "
     "as a 1-row broadcast nested loop, and the per-doc top-k buffer is "
     "bounded by a single document's vocabulary"),
    ("shuffle_shards_docs", 0, False, False,
     "deterministic training shuffle is a pure scan-stage projection — "
     "the shard/sort-key assignment costs ZERO shuffles at any corpus "
     "size"),
    ("paragraph_dedup_docs", 3, True, False,
     "first-occurrence via map-side-combinable groupBy(paragraph md5) "
     "joined back (the r6 exact-dedup de-skew pattern — never a window "
     "over the hot paragraph hash) + the per-doc reassembly groupBy + "
     "per-doc stats agg; hash columns shuffle, paragraph text only in "
     "the doc-bounded reassembly"),
    ("fuzzy_decontamination_docs", 3, True, False,
     "corpus signature groupBy + the best-match groupBy on corpus doc "
     "id (map-side-combinable min-struct, never a window) + the final "
     "annotate join's corpus side; EVERYTHING benchmark-sided — banded "
     "keys and signatures — broadcasts, so the probe and scoring are "
     "map-side and the benchmark never shuffles anything corpus-sized"),
    ("skew_report_events", 2, True, True,
     "grouped once; the 3 exchanges carry KEY-CARDINALITY rows (group "
     "shuffle + its runtime-reused twin for the total + the total's "
     "1-row merge), the total joins back as a 1-row broadcast nested "
     "loop, and ranking is TakeOrdered — the corpus itself shuffles "
     "zero times"),
    ("corpus_datacard_docs", 2, False, False,
     "exact mode: per-row stats are scan-stage; count_distinct plans "
     "as two map-side-combined aggregates (keys+fingerprint, then "
     "keys) — approx mode (the 100 TB path) is ONE exchange of "
     "sketch state"),
    ("bm25_topk_docs", 9, True, False,
     "lexical retrieval (r9): the corpus-scale exchanges are the "
     "postings groupBy (map-side-combined, paid once if the index is "
     "persisted/bucketed by term) and the (query,doc) score groupBy of "
     "the PRUNED hits; the per-term df census joins back CO-PARTITIONED "
     "on the shared pruned-hits exchange (broadcasting it re-executed "
     "the whole postings build — one extra corpus scan); query vocab, "
     "query weights, and the 1-row N/avgdl census broadcast — "
     "structurally asserted: no SortMergeJoin may appear, so the "
     "corpus never shuffles for a join; top-k is two-stage bounded "
     "(per-salt slice then a window over <= n_partial*k survivors)"),
    ("hybrid_search_docs", 10, True, False,
     "RRF fusion (r9): the bm25 leg's exchanges plus the cosine leg's "
     "window and the fusion's union+groupBy (leg outputs are top-k "
     "lists — query-bounded rows); fusing N legs is ONE exchange "
     "regardless of N, never an outer-join ladder"),
    ("ann_recall_lsh", 5, True, False,
     "ANN calibration (r9): the legs' own exchanges (LSH bucket "
     "groupBys + both legs' ranking windows) plus the report's three "
     "query-id-keyed aggregations over TOP-K lists — every report-side "
     "join carries <= k rows per query, co-partitioned on query_id"),
    ("ngram_novelty_docs", 3, False, False,
     "n-gram novelty (opt r12): gram census groupBy carrying min(id) "
     "(distinct grams per doc, map-side-combined, O(1) extra state) is "
     "the ONLY corpus-gram-sized exchange — a df==1 gram belongs to "
     "exactly one doc, so the novel count aggregates from census rows "
     "and the former corpus-sized gram join-back is gone; the other "
     "two exchanges (novel-per-doc, totals-per-doc) carry map-combined "
     "per-DOCUMENT partials, and the final join is per-doc sized; no "
     "windows over the hot gram key"),
    ("token_divergence_docs", 6, True, False,
     "token drift report (r9): one corpus scan -> map-side-combined "
     "(group, bucket) census (state <= n_buckets per group at any "
     "corpus size) + totals census; the pair join and the all-pairs "
     "base operate on the TINY census/group tables only"),
    ("soft_dedup_weights_docs", 1, False, False,
     "soft dedup (r9): ONE map-side-combined fingerprint census "
     "exchange + AQE-skew-eligible join-back — never a count() window "
     "over the unbounded fp key; weighting itself is scan-stage"),
    ("pack_bins_ffd_docs", 1, False, False,
     "whole-doc FFD packing (r9): ONE shard exchange feeds the "
     "per-shard applyInPandas; group state = the shard's bin fill "
     "table (shard_tokens/budget), shard count scales with the "
     "cluster"),
    ("source_overlap_docs", 4, True, False,
     "cross-source overlap (r9): the (group, fp) distinct + the "
     "fp-keyed pair self-join side + the group-pair aggregation + the "
     "group totals census; per-fp pair state bounded by |groups|, "
     "totals join back broadcast"),
    ("warc_extract_docs", 1, False, False,
     "WARC source (r9): the parse itself is scan-stage mapInPandas "
     "(parallelism = segment files, zero shuffles); the single "
     "exchange is the contract FIXTURE assembling documents into "
     "segments (groupBy file) — a real crawl reads segments directly"),
    ("corpus_config_incremental_docs", 4, True, False,
     "incremental curate (r10): the index probe is an equi-join on fp "
     "(broadcast at contract scale; a production BUCKETED index side "
     "reads pre-partitioned) + the within-batch min-id census — "
     "O(batch) rows through every exchange, never the prior corpus"),
    ("corpus_config_warc_docs", 3, True, False,
     "WARC->curate (r10): the returned plan must read the STAGED "
     "landing-zone parquet, never the crawl transport — an "
     "un-staged chain re-executes the segment parse once per "
     "keep-set side (two MapInPandas, verified before the fix). "
     "Exchanges: dedup fingerprint census + its min-id agg + the "
     "final reassembly; keep-set joins back broadcast at this sf"),
    ("html_extract_docs", 0, False, False,
     "HTML text extraction (r9): strip/decode/title/link-density are "
     "all regexp/replace expression chains — zero exchanges, zero "
     "joins; extraction parallelism == scan parallelism at any scale"),
    ("mojibake_repair_docs", 0, False, False,
     "encoding hygiene (r9): a replace fold is pure scan-stage string "
     "work — zero exchanges, zero joins at any scale"),
    ("near_dup_prune_docs", 3, True, False,
     "window shuffle over clustered rows + the keep-flag join WITHOUT a "
     "planted broadcast hint: this contract corpus is 100% clustered, "
     "so the honest initial plan shuffles both join sides (AQE converts "
     "to broadcast at runtime only when the flag table is actually "
     "small); comps still broadcast — CC resolved driver-side during "
     "construction"),
]


# Plan-size ratchet for the extractor and dedup queries: (query, max MB
# of plan, max per-row XPath evaluator objects). The plan is the
# returned frame's optimizedPlan().toJSON() plus the plan description
# of every SQL execution the query ran while it was built: the dedup
# queries resolve their edges eagerly, so their verify trees live only
# in those executions.
# Caps are ~1.3x the value measured when frozen (2026-08). Two regression
# classes trip them: a megaplan from inlining a generated-XML expression
# into every consumer (the forward_film class — 0.36 MB after its
# single-parse rewrite, >10 MB before), and re-introducing one-DOM-parse-
# per-column xpath extraction. MARC/linemarc plans are big by nature
# (fieldspec trees, no xpath); their caps are ~1.1x the 0.77 / 1.23 /
# 0.49 MB measured with each repeated subtree bound once (written out at
# every reference they were 3.28 / 11.30 / 3.00 MB).
SIZE_AUDITS = [
    ("marc_extract", 0.85, 0),
    ("marc_rich_extract", 1.35, 0),
    ("linemarc_extract", 0.55, 0),
    ("forward_film_extract", 1.0, 0),
    ("dc_extract", 0.5, 0),
    ("dc_extract_struct", 0.5, 0),
    ("lido_extract", 0.5, 0),  # one Python pass, no xpath
    ("ead_extract", 0.5, 2),  # 1 gated allfields xpath
    ("ead3_split_extract", 2.0, 4),  # 1 gated allfields xpath
    ("qdc_extract", 0.5, 2),  # 1 gated allfields xpath
    ("lrmi_extract", 0.5, 2),  # QDC base + overlay
    ("ese_extract", 0.6, 2),  # 1 gated allfields xpath
    ("doaj_extract", 0.5, 4),  # gated allfields + fulltext
    ("forward_authority_extract", 0.6, 0),
    ("marc_authority_extract", 1.0, 0),
    ("sierra_harvest_extract", 0.7, 0),
    ("genieplus_harvest_extract", 1.0, 0),
    # matchRecords over per-record normalize_key columns: 0.18 / 0.16 MB;
    # normalizing per pair inlined the kana map four times: 0.29 / 0.27
    ("dedup_incremental", 0.21, 0),
    ("component_dedup", 0.18, 0),
]

_XPATH_EVAL_MARKS = (
    "XPathListEvaluator", "XPathStringEvaluator", "XPathBooleanEvaluator"
)


# Queries whose generated code runs closest to janino's 64 KB method
# limit (dim-unrolled vector arithmetic inside join consumers). These
# are EXECUTED (collect, like the oracle harness) with the JVM's stderr
# captured: an `ERROR CodeGenerator` there means Spark silently dropped
# a stage to interpreted evaluation — correctness survives, the scale
# story does not (r11 verdict: semantic_dedup's 3-chain consumer).
CODEGEN_PROBES = [
    "semantic_dedup_embeddings",
    "cluster_corpus_embeddings",
    "knn_ivf_full",
    "embedding_neardup",
    "knn_ivfadc_full",
]

_CODEGEN_ERR = re.compile(
    r"ERROR CodeGenerator|InternalCompilerException|grows beyond 64 KB"
)


def main() -> None:
    import os
    import tempfile

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Capture fd-2 BEFORE the JVM launches (the gateway inherits it);
    # log4j compile errors are invisible to Python otherwise.
    real_err = os.dup(2)
    errcap = tempfile.NamedTemporaryFile(
        mode="w+", suffix=".stderr", delete=False
    )
    os.dup2(errcap.fileno(), 2)
    exc: BaseException | None = None
    try:
        _audit(sf_dir)
    except BaseException as e:  # keep the audit verdict AND codegen scan
        exc = e
    finally:
        sys.stderr.flush()
        os.dup2(real_err, 2)
        os.close(real_err)
        errcap.seek(0)
        captured = errcap.read()
        errcap.close()
        os.unlink(errcap.name)
    sys.stderr.write(captured)
    sys.stderr.flush()
    hits = [ln for ln in captured.splitlines() if _CODEGEN_ERR.search(ln)]
    if hits:
        print(
            f"FAIL  codegen: {len(hits)} CodeGenerator error line(s) "
            "in the JVM log — a stage fell back to interpreted "
            "evaluation:"
        )
        for ln in hits[:5]:
            print(f"      {ln.strip()}")
        sys.exit(1)
    if exc is not None:
        raise exc


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store, -1 if none.
    The store is filled from the listener bus asynchronously, so drain
    the bus first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _audit(sf_dir: str) -> None:
    spark = get_spark("plan_audit", shuffle_partitions=16)
    qs = entry_mod.queries()
    failures = []
    store = spark._jsparkSession.sharedState().statusStore()
    for name, max_mb, max_xpath in SIZE_AUDITS:
        first = _last_execution_id(spark) + 1
        df = qs[name](spark, sf_dir)
        j = df._jdf.queryExecution().optimizedPlan().toJSON()
        problems = []
        # execution ids are sequential: select the query's executions by
        # id, and fail rather than under-count if one was evicted
        for i in range(first, _last_execution_id(spark) + 1):
            ex = store.execution(i)
            if ex.isEmpty():
                problems.append(f"execution {i} missing from the status store")
            else:
                j += ex.get().physicalPlanDescription()
        mb = len(j) / 1e6
        n_xpath = sum(j.count(m) for m in _XPATH_EVAL_MARKS)
        if mb > max_mb:
            problems.append(f"plan json {mb:.2f}MB > {max_mb}MB")
        if n_xpath > max_xpath:
            problems.append(f"xpath evaluators {n_xpath} > {max_xpath}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: plan={mb:.2f}MB xpath_evals={n_xpath}")
    for name, max_ex, need_bcast, allow_cart, note in AUDITS:
        df = qs[name](spark, sf_dir)
        plan = plan_of(df)
        problems = []
        n_ex = unique_exchange_count(df)
        if n_ex > max_ex:
            problems.append(f"exchanges {n_ex} > {max_ex}")
        if need_bcast and count(r"Broadcast(HashJoin|NestedLoopJoin|Exchange)", plan) == 0:
            problems.append("expected a broadcast join, found none")
        if not allow_cart and count(r"CartesianProduct", plan):
            problems.append("unexpected CartesianProduct")
        if name == "filter_dsl_orders" and "PushedFilters: []" in plan:
            problems.append("no filters pushed to the parquet scan")
        if name == "knn_ivfadc_full":
            # the IVF probe must be a hash join keyed on cell — the r7
            # verdict's named scale-killer was a BroadcastNestedLoopJoin
            # evaluating array_contains for every corpus-row x query pair
            if "BroadcastHashJoin" not in plan:
                problems.append("IVFADC probe is not a broadcast hash join")
            if "BroadcastNestedLoopJoin" in plan:
                problems.append(
                    "IVFADC probe fell back to a nested-loop predicate scan"
                )
        if name == "corpus_config_warc_docs":
            # staged landing zone: the curate plan must be pure parquet
            # reads — any MapInPandas here means the crawl parse leaked
            # back into the (multi-pass) pipeline plan
            if "MapInPandas" in plan:
                problems.append(
                    "crawl parse in the curate plan — the landing zone "
                    "is not being staged to parquet"
                )
        if name in ("bm25_topk_docs", "hybrid_search_docs"):
            # every join in the retrieval family keys on the (tiny)
            # query side — a SortMergeJoin here means the corpus-scale
            # postings stream shuffled for a join it should broadcast
            if "SortMergeJoin" in plan:
                problems.append(
                    "retrieval join fell back to SortMergeJoin — the "
                    "corpus side must never shuffle for the vocab/df/"
                    "qtf joins"
                )
        if name == "quality_buckets_docs":
            # the contract query must pin the EXACT percentile path (the
            # DuckDB-reproducible oracle mode); the operator's production
            # default is the bounded-memory approx_percentile sketch
            if "approx_percentile" in plan or "percentile(" not in plan:
                problems.append(
                    "quality_buckets_docs must pin approach='exact' "
                    "(oracle mode) — production default is approx"
                )
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}  ({note})")
        else:
            print(f"ok    {name}: exchanges={n_ex}  ({note})")
    for name in CODEGEN_PROBES:
        qs[name](spark, sf_dir).collect()
        print(f"ok    {name}: executed (codegen probe)")
    print()
    if failures:
        print(f"{len(failures)} plan audit failures: {failures}")
        sys.exit(1)
    print("all plans hold their scale contracts")


if __name__ == "__main__":
    main()
