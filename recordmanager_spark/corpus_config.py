"""Corpus-pipeline configuration compiler — the reference's
datasources.ini architecture applied to the training-data extension.

The reference drives every per-source behavior from one ini file
(``conf/datasources.ini.sample``; parsed by
``Base/Command/Util/IniFileTrait.php`` — behavioral spec, not code),
and this engine already compiles that surface for record pipelines
(``config.py``). This module gives the LLM curation stages the same
treatment: a ``[corpus:<name>]`` ini section (same PHP-ini dialect —
``key[] =`` appends, quotes, ``;`` comments) compiles into a pipeline
of the engine's verified operators, so a data-curation run is a CONFIG
ARTIFACT, reviewable and diffable, not a bespoke script.

A section may also declare WHERE its documents come from —
``source = warc:<dir>`` (a crawl landing zone of WARC/WET segments,
plain or gzip, parsed by ``sources/warc.py``) or
``source = parquet:<path>`` — resolved by :func:`load_corpus_source`;
the ``curate`` console command uses it when ``--input`` is not given,
so a segment-directory-to-curated-parquet run is one command against
one config section. When a ``languages[]`` gate is configured and the
source carries no ``lang`` column (crawls don't), the pipeline derives
it per-document with ``functions.text.lang_id`` AFTER stage-0 hygiene
(language-ID reads stripped text, not raw HTML).

Stage order is FIXED and documented (the SolrUpdater-style contract —
the reference applies field rules -> mappings -> extras in code order,
not ini order):

-1. ``optout`` / ``optout_domains`` — crawl compliance gate, FIRST
                             and on the RAW markup (strip_html would
                             remove the robots <meta> elements it
                             reads): drop documents carrying a robots
                             noindex/none meta or an ``X-Robots-Tag``
                             noindex response header (WARC sources
                             carry the envelope in ``http_headers``),
                             and documents whose doc-URI host matches
                             the ``optout_domains`` list (exact or
                             subdomain); ``robots_txt = <parquet>``
                             additionally enforces RFC 9309 crawl
                             permissions — per-host robots.txt rules
                             (broadcast) against each doc's URI path,
                             group selected by ``robots_agent``
0.  ``strip_html`` / ``fix_mojibake`` — text hygiene, applied IN PLACE
                             to the text column before any gate reads
                             it: WET-grade HTML extraction
                             (``functions.html.html_to_text``) and
                             UTF-8-as-cp1252 repair
                             (``functions.text.fix_mojibake``); both
                             scan-stage, so stage 0 adds zero shuffles
1.  ``languages[]``        — keep listed language codes
2.  ``blocklist``          — C4-style bad-words gate: a file of one
                             word per line (``#`` comments); documents
                             with more than ``blocklist_max_hits``
                             (default 0) distinct blocklist words as
                             whole tokens are dropped
                             (``functions.quality.blocklist_hits``)
3.  ``dedup = exact``      — keep the first (min-id) copy per distinct
                             normalized text (``distinct_by_text``)
    ``dedup_index = <tbl>``— INCREMENTAL exact tier (the daily-ingest
                             path): probe the persisted fingerprint
                             index instead of the full corpus — an
                             index hit drops the document (a prior
                             ingest owns the canonical), within-batch
                             copies keep the min id
                             (``exact_dup_incremental``). ``curate``
                             resolves the table, creates it on the
                             first run, and appends the batch's new
                             fingerprints after writing the output
    ``dedup = minhash``    — near-duplicate prune: minhash/LSH
                             candidates verified at
                             ``minhash_threshold`` exact Jaccard, then
                             one representative (min id) per connected
                             cluster (``minhash_near_duplicates`` +
                             ``near_dup_prune``); tunables
                             ``minhash_num_perm`` / ``minhash_bands``
                             / ``minhash_rows`` / ``minhash_shingle_n``
4.  ``decontaminate``      — benchmark decontamination against the
                             named table (resolved from the ``tables``
                             mapping, else the session catalog):
                             documents sharing >=
                             ``decontaminate_min_hits`` (default 1)
                             distinct ``decontaminate_ngram`` (default
                             8)-grams with the benchmark are dropped.
                             ``decontaminate_method = ngram`` (exact
                             gram join, the default) or ``bloom``
                             (fixed-size Bloom bit array — the 100 TB
                             path when the benchmark gram set is too
                             big to broadcast; false positives only
                             ever over-drop)
5.  ``min_tokens`` / ``max_tokens`` — whitespace-token quality gate
6.  ``cap_group[]`` + ``cap_n``     — per-group frequency cap
                             (``cap_per_group``, census join-back)
7.  ``lm_min_avg_logprob`` + ``lm_reference_lang`` — hashed-LM
                             perplexity gate (``lm_score``), trained on
                             the surviving reference-language slice.
                             Documents with NULL avg_logprob (fewer
                             than two tokens — no bigram transitions)
                             PASS THROUGH: length gating belongs to
                             ``min_tokens``, not the LM stage
8.  ``dsir_target`` + ``dsir_k`` — DSIR importance resampling: keep
                             the Gumbel top-``dsir_k`` documents scored
                             against the surviving ``dsir_target``-
                             language slice (``dsir_select``;
                             ``dsir_buckets`` tunes the hashed feature
                             space, default 1024)
9.  ``sample_rate``        — deterministic hash sample
10. ``split[]``            — train/val/test fractions

Every stage is optional; omitted keys skip the stage. All stages are
the oracle-twinned operators — the compiler only sequences them.

Example::

    [corpus:web_en]
    source = warc:/crawl/segments
    strip_html = true
    languages[] = en
    blocklist = conf/badwords.txt
    dedup = minhash
    minhash_threshold = 0.5
    decontaminate = eval_benchmark
    min_tokens = 5
    max_tokens = 2000
    cap_group[] = source
    cap_n = 8
    split[] = 0.75
    split[] = 0.125
    split[] = 0.125
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import _bool, _parse_php_ini  # the shared ini dialect


@dataclass
class CorpusConfig:
    name: str
    source: str | None = None  # "warc:<dir>" | "parquet:<path>"
    optout: bool = False  # robots-meta / X-Robots-Tag noindex gate
    optout_domains: str | None = None  # domain opt-out list file
    robots_txt: str | None = None  # (host, robots_txt) parquet, RFC 9309
    robots_agent: str = "*"  # crawler product token for group selection
    strip_html: bool = False
    fix_mojibake: bool = False
    languages: list[str] = field(default_factory=list)
    blocklist: str | None = None  # path to one-word-per-line file
    blocklist_max_hits: int = 0
    dedup: str | None = None  # None | "exact" | "minhash"
    dedup_index: str | None = None  # fingerprint-index table (incremental)
    minhash_threshold: float = 0.5
    minhash_num_perm: int = 16
    minhash_bands: int = 4
    minhash_rows: int = 4
    minhash_shingle_n: int = 3
    decontaminate: str | None = None  # benchmark table name
    decontaminate_method: str = "ngram"  # "ngram" | "bloom"
    decontaminate_ngram: int = 8
    decontaminate_min_hits: int = 1
    decontaminate_text_col: str = "text"
    min_tokens: int | None = None
    max_tokens: int | None = None
    cap_group: list[str] = field(default_factory=list)
    cap_n: int | None = None
    lm_min_avg_logprob: float | None = None
    lm_reference_lang: str | None = None
    dsir_target: str | None = None
    dsir_k: int | None = None
    dsir_buckets: int = 1024
    sample_rate: float | None = None
    split: list[float] = field(default_factory=list)
    keep_text: bool = False


def parse_corpus_ini(text: str) -> dict[str, CorpusConfig]:
    """Parse every ``[corpus:<name>]`` section into a CorpusConfig."""
    out: dict[str, CorpusConfig] = {}
    for section, kv in _parse_php_ini(text).items():
        if not section.startswith("corpus:"):
            continue
        name = section.split(":", 1)[1]
        dedup = kv.get("dedup")
        if dedup is not None and dedup not in ("exact", "minhash"):
            raise ValueError(
                f"[{section}] dedup={dedup!r}: 'exact' and 'minhash' are "
                "the config-compilable tiers; other near-dup detectors "
                "(simhash/winnowing/embedding) need corpus-specific "
                "parameters — call the operators directly"
            )
        method = kv.get("decontaminate_method", "ngram")
        if method not in ("ngram", "bloom"):
            raise ValueError(
                f"[{section}] decontaminate_method={method!r}: "
                "'ngram' or 'bloom'"
            )

        def _i(key: str, default: int) -> int:
            return int(kv[key]) if key in kv else default

        def _f(key: str, default: float) -> float:
            return float(kv[key]) if key in kv else default

        src = kv.get("source")
        if src is not None and src.split(":", 1)[0] not in (
            "warc",
            "parquet",
        ):
            raise ValueError(
                f"[{section}] source={src!r}: expected "
                "'warc:<dir>' or 'parquet:<path>'"
            )
        didx = kv.get("dedup_index")
        if didx is not None and dedup not in (None, "exact"):
            raise ValueError(
                f"[{section}] dedup_index is the exact tier's incremental "
                f"path; it cannot combine with dedup={dedup!r}"
            )
        cfg = CorpusConfig(
            name=name,
            source=src,
            dedup_index=didx,
            optout=_bool(kv.get("optout"), False),
            optout_domains=kv.get("optout_domains"),
            robots_txt=kv.get("robots_txt"),
            robots_agent=kv.get("robots_agent", "*"),
            strip_html=_bool(kv.get("strip_html"), False),
            fix_mojibake=_bool(kv.get("fix_mojibake"), False),
            languages=list(kv.get("languages", [])),
            blocklist=kv.get("blocklist"),
            blocklist_max_hits=_i("blocklist_max_hits", 0),
            dedup=dedup,
            minhash_threshold=_f("minhash_threshold", 0.5),
            minhash_num_perm=_i("minhash_num_perm", 16),
            minhash_bands=_i("minhash_bands", 4),
            minhash_rows=_i("minhash_rows", 4),
            minhash_shingle_n=_i("minhash_shingle_n", 3),
            decontaminate=kv.get("decontaminate"),
            decontaminate_method=method,
            decontaminate_ngram=_i("decontaminate_ngram", 8),
            decontaminate_min_hits=_i("decontaminate_min_hits", 1),
            decontaminate_text_col=kv.get("decontaminate_text_col", "text"),
            min_tokens=int(kv["min_tokens"]) if "min_tokens" in kv else None,
            max_tokens=int(kv["max_tokens"]) if "max_tokens" in kv else None,
            cap_group=list(kv.get("cap_group", [])),
            cap_n=int(kv["cap_n"]) if "cap_n" in kv else None,
            lm_min_avg_logprob=(
                float(kv["lm_min_avg_logprob"])
                if "lm_min_avg_logprob" in kv
                else None
            ),
            lm_reference_lang=kv.get("lm_reference_lang"),
            dsir_target=kv.get("dsir_target"),
            dsir_k=int(kv["dsir_k"]) if "dsir_k" in kv else None,
            dsir_buckets=_i("dsir_buckets", 1024),
            sample_rate=(
                float(kv["sample_rate"]) if "sample_rate" in kv else None
            ),
            split=[float(x) for x in kv.get("split", [])],
            keep_text=_bool(kv.get("keep_text"), False),
        )
        if cfg.cap_group and cfg.cap_n is None:
            raise ValueError(f"[{section}] cap_group[] set without cap_n")
        if cfg.lm_min_avg_logprob is not None and not cfg.lm_reference_lang:
            raise ValueError(
                f"[{section}] lm_min_avg_logprob needs lm_reference_lang"
            )
        if cfg.dsir_target is not None and cfg.dsir_k is None:
            raise ValueError(f"[{section}] dsir_target needs dsir_k")
        out[name] = cfg
    return out


def _read_blocklist(path: str) -> list[str]:
    """One word per line; blank lines and ``#`` comments skipped."""
    words: list[str] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            w = line.split("#", 1)[0].strip()
            if w:
                words.append(w)
    return words


def _resolve_table(
    df: DataFrame, name: str, tables: dict[str, DataFrame] | None
) -> DataFrame:
    """Benchmark table by name: the explicit ``tables`` mapping wins,
    else the session catalog (a registered temp view / catalog table) —
    the same two-tier lookup datasources.ini uses for mapping files
    (local override, then installation defaults)."""
    if tables and name in tables:
        return tables[name]
    return df.sparkSession.table(name)


def load_corpus_source(spark, source: str) -> DataFrame:
    """Resolve a ``[corpus:]`` ``source =`` entry to a document
    DataFrame — the reference's harvest-source architecture
    (conf/datasources.ini.sample:23-101: a source is a CONFIG ENTRY
    naming a transport, not code) applied to the corpus tier.

    ``parquet:<path>`` reads an existing document table.
    ``warc:<dir>`` reads a crawl landing zone: ``binaryFile`` over the
    segment directory (works for both plain and ``.warc.gz`` segments
    — the parser gunzips per task; one file = one task = the Common
    Crawl parallelism unit), then
    :func:`recordmanager_spark.sources.warc.warc_documents` maps
    content-bearing records onto (doc_id, source, text). Chain
    ``strip_html = true`` in the section for WET-grade text.
    """
    kind, _, arg = source.partition(":")
    if not arg:
        raise ValueError(f"source={source!r}: missing path after ':'")
    if kind == "parquet":
        return spark.read.parquet(arg)
    if kind == "warc":
        from .sources.warc import warc_documents

        files = (
            spark.read.format("binaryFile")
            .load(arg)
            .select(F.col("path"), F.col("content").alias("value"))
        )
        return warc_documents(files)
    raise ValueError(f"source={source!r}: unknown scheme {kind!r}")


def pre_dedup_gates(
    df: DataFrame,
    cfg: CorpusConfig,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """The stage-0 hygiene + gate prefix (opt-out, strip_html,
    fix_mojibake, language gate, blocklist) exactly as
    :func:`apply_corpus_pipeline` runs it BEFORE the dedup tier.

    Exposed (not just an inline block) so runners that persist the
    fingerprint index (``curate``'s index-append side effect) can
    fingerprint the SAME frame the pipeline deduped: index rows must
    come from the gated, cleaned text — raw-text fingerprints would
    never match a future probe when ``strip_html``/``fix_mojibake`` is
    on, and gated-out documents must not enter the index as phantom
    canonicals that permanently suppress future identical documents
    (r10 ADVICE)."""
    from .functions.quality import blocklist_hits

    out = df
    if cfg.optout:
        # the robots opt-out gate runs FIRST, on the RAW markup —
        # strip_html would remove the very <meta> elements it reads.
        # WARC sources carry the HTTP envelope in http_headers
        # (X-Robots-Tag); sources without one gate on the meta alone.
        from .functions.html import robots_optout

        hdr = (
            F.col("http_headers")
            if "http_headers" in out.columns
            else None
        )
        out = out.where(~robots_optout(text_col, hdr))
        if hdr is not None:
            # the envelope exists FOR this gate; once consumed it would
            # only fatten every downstream shuffle and the output
            out = out.drop("http_headers")
    if cfg.optout_domains is not None:
        # domain-level opt-out list (one domain per line): the
        # crawl-tier doc id IS the target URI (sources/warc.py
        # warc_documents), and the match is exact-or-subdomain, never
        # substring — the same membership rule as the C4 blocklist.
        from .functions.quality import host_blocked, url_host

        doms = _read_blocklist(cfg.optout_domains)
        if doms:
            out = out.where(~host_blocked(url_host(id_col), doms))
    if cfg.robots_txt is not None:
        # RFC 9309 crawl-permission gate: per-host robots.txt rules
        # (harvested alongside the crawl) against each doc's URI —
        # the fetch-time half of REP compliance; the meta/header
        # opt-out above is the index-time half. The robots table
        # broadcasts; verdict is one Arrow scan, no corpus shuffle.
        from .functions.robots import robots_gate

        robots = df.sparkSession.read.parquet(cfg.robots_txt)
        out = robots_gate(
            out, robots, url_col=id_col, agent=cfg.robots_agent
        ).where(F.col("robots_allowed")).drop("robots_allowed")
    if cfg.strip_html:
        from .functions.html import html_to_text

        out = out.withColumn(text_col, html_to_text(text_col))
    if cfg.fix_mojibake:
        from .functions.text import fix_mojibake

        out = out.withColumn(text_col, fix_mojibake(text_col))
    if cfg.languages:
        if lang_col not in out.columns:
            # sources without language metadata (WARC/WET crawls):
            # derive it HERE, after stage-0 hygiene — language-ID over
            # stripped text, not raw HTML — as a scan-stage expression
            from .functions.text import lang_id

            out = out.withColumn(lang_col, lang_id(text_col))
        out = out.where(F.col(lang_col).isin(cfg.languages))
    if cfg.blocklist is not None:
        words = _read_blocklist(cfg.blocklist)
        if words:
            out = out.where(
                blocklist_hits(text_col, words) <= cfg.blocklist_max_hits
            )
    return out


def apply_corpus_pipeline(
    df: DataFrame,
    cfg: CorpusConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Run the compiled stages in the documented order. Returns the
    surviving rows with ``n_tokens`` (when a token gate ran) and
    ``split`` (when fractions were configured); ``text`` is dropped
    unless ``keep_text`` (a 100 TB output should not carry the corpus
    body through downstream shuffles by default).

    ``tables`` resolves ``decontaminate = <name>`` benchmark tables;
    names absent from the mapping fall back to the session catalog."""
    from .functions.text import token_count
    from .operators.packing import (
        cap_per_group,
        stratified_sample,
        train_val_test_split,
    )
    from .operators.text_dedup import distinct_by_text

    out = pre_dedup_gates(
        df, cfg, text_col=text_col, lang_col=lang_col, id_col=id_col
    )
    if cfg.dedup_index is not None:
        # incremental exact tier: probe the persisted fingerprint index
        # (the daily-ingest path — O(batch + matches), never O(corpus));
        # keep only first-EVER occurrences: an index hit means a prior
        # ingest owns the canonical, a within-batch duplicate resolves
        # to the min batch id. The index-append side effect (new
        # fingerprints) belongs to the runner (cmd_curate), not this
        # pure transform.
        from .operators.text_dedup import exact_dup_incremental

        idx = _resolve_table(df, cfg.dedup_index, tables)
        annotated, _ = exact_dup_incremental(out, idx, id_col, text_col)
        keep = annotated.where(
            F.col("id") == F.col("canonical_id")
        ).select(F.col("id").alias("__kid"))
        out = out.join(keep, out[id_col] == keep["__kid"], "left_semi")
    elif cfg.dedup == "exact":
        out = distinct_by_text(out, id_col, text_col)
    elif cfg.dedup == "minhash":
        from .operators.text_dedup import (
            minhash_near_duplicates,
            near_dup_prune,
        )

        pairs = minhash_near_duplicates(
            out,
            id_col,
            text_col,
            num_perm=cfg.minhash_num_perm,
            bands=cfg.minhash_bands,
            rows_per_band=cfg.minhash_rows,
            threshold=cfg.minhash_threshold,
            shingle_n=cfg.minhash_shingle_n,
        )
        out = (
            near_dup_prune(out, pairs, id_col=id_col)
            .where(F.col("keep"))
            .drop("cluster_id", "keep")
        )
    if cfg.decontaminate is not None:
        bench = _resolve_table(df, cfg.decontaminate, tables)
        if cfg.decontaminate_method == "bloom":
            from .operators.contamination import (
                bloom_contaminated,
                bloom_filter_words,
            )

            m_bits = 1 << 20
            blm = bloom_filter_words(
                bench,
                cfg.decontaminate_text_col,
                n=cfg.decontaminate_ngram,
                m_bits=m_bits,
            )
            out = bloom_contaminated(
                out,
                id_col,
                text_col,
                blm,
                m_bits=m_bits,
                n=cfg.decontaminate_ngram,
                min_hits=cfg.decontaminate_min_hits,
            )
        else:
            from .operators.contamination import flag_contaminated

            out = flag_contaminated(
                out,
                id_col,
                text_col,
                bench,
                cfg.decontaminate_text_col,
                n=cfg.decontaminate_ngram,
                min_hits=cfg.decontaminate_min_hits,
            )
        out = out.where(~F.col("contaminated")).drop("n_hits", "contaminated")
    if cfg.min_tokens is not None or cfg.max_tokens is not None:
        out = out.withColumn(
            "n_tokens", token_count(text_col).cast("long")
        )
        if cfg.min_tokens is not None:
            out = out.where(F.col("n_tokens") >= cfg.min_tokens)
        if cfg.max_tokens is not None:
            out = out.where(F.col("n_tokens") <= cfg.max_tokens)
    if cfg.cap_group:
        out = cap_per_group(out, cfg.cap_group, cfg.cap_n, id_col=id_col)
    if cfg.lm_min_avg_logprob is not None:
        from .operators.lm_score import lm_logprob, train_hash_lm

        model = train_hash_lm(
            out.where(F.col(lang_col) == cfg.lm_reference_lang), text_col
        )
        scores = lm_logprob(out, model, text_col, id_col).select(
            F.col(id_col), "avg_logprob"
        )
        # NULL avg_logprob (a <2-token document has no bigram
        # transitions) passes through: length gating is min_tokens'
        # job, not an implicit side effect of the LM stage (r8 ADVICE)
        out = out.join(scores, id_col).where(
            F.col("avg_logprob").isNull()
            | (F.col("avg_logprob") >= cfg.lm_min_avg_logprob)
        )
    if cfg.dsir_target is not None:
        from .operators.dsir import dsir_select

        out = dsir_select(
            out,
            out.where(F.col(lang_col) == cfg.dsir_target),
            cfg.dsir_k,
            text_col=text_col,
            id_col=id_col,
            n_buckets=cfg.dsir_buckets,
        )
    if cfg.sample_rate is not None:
        out = stratified_sample(
            out, rates={}, default_rate=cfg.sample_rate, id_col=id_col
        )
    if cfg.split:
        out = train_val_test_split(
            out,
            fractions=tuple(cfg.split),
            labels=("train", "val", "test")[: len(cfg.split)],
            id_col=id_col,
        )
    if not cfg.keep_text and text_col in out.columns:
        out = out.drop(text_col)
    return out
