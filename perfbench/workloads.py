"""The perfbench workloads.

A workload object gets a context (session, input directory, operation
log, tracer).  ``run(traced=False)`` performs one pass of the workload
through the program's console commands; ``run(traced=True)`` performs
the same pass split into one call per layer, each wrapped in a span
with its output materialised, so that the layer's time is
attributable.  ``check()`` verifies the outputs of the last pass and
returns the dedup quality against the generator's ground truth.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import math
import os
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F

from recordmanager_spark import cli
from recordmanager_spark import config as CF

import gen

KEY_COLS = ["isbn_keys", "title_keys"]
CANDIDATE_CAP = 101
OAI_PAGE = 100
INDEX_TABLE = "perfbench_idx"
SEARCH_K = 10


class Ops:
    """Operation log: (kind, seconds, ok) per console command, OAI
    request or pass, and the named output checks."""

    def __init__(self):
        self.ops: list[tuple[str, float, bool]] = []
        self.checks: list[tuple[str, bool, str]] = []

    def timed(self, kind: str, fn, *args, **kw):
        """Run one operation.  A failure (an exception, or the
        SystemExit of a console command) is printed to stderr, logged
        as a failed operation, and returns None."""
        t = time.perf_counter()
        try:
            out, ok = fn(*args, **kw), True
        except (Exception, SystemExit):
            traceback.print_exc()
            out, ok = None, False
        self.ops.append((kind, time.perf_counter() - t, ok))
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)


def run_cli(argv: list[str]) -> None:
    """One console command; its progress lines go to stderr so that the
    result stays the last line of stdout."""
    with contextlib.redirect_stdout(sys.stderr):
        cli.main(argv)


def stage(spark, df, path: str):
    """Materialise ``df`` to parquet and read it back (traced passes)."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def verify_frame(wide):
    """The matchRecords field battery, shaped the way the
    ``deduplicate`` command shapes the extractor output.  The command
    builds this frame inline, so this is a copy of its code
    (``cli.cmd_deduplicate``); the traced run's dedup checks fail if the
    two drift apart in a way that changes the groups."""
    types = dict(wide.dtypes)

    def scalar(name, *alts):
        for n in (name, *alts):
            if n in types:
                c = F.col(n)
                if types[n].startswith("array"):
                    c = F.element_at(c, 1)
                return F.nullif(F.trim(c.cast("string")), F.lit(""))
        return F.lit(None).cast("string")

    def arr(name):
        if name in types and types[name].startswith("array"):
            return F.col(name)
        return F.array().cast("array<string>")

    return wide.select(
        "_id", "source_id",
        F.coalesce(scalar("format"), F.lit("")).alias("format"),
        scalar("access_restrictions").alias("access_restrictions"),
        arr("isbn").alias("isbn"),
        arr("unique_ids").alias("unique_ids"),
        arr("issn").alias("issn"),
        scalar("publish_year", "publishDate").alias("publish_year"),
        scalar("page_count").alias("page_count"),
        scalar("series_issn").alias("series_issn"),
        scalar("series_numbering").alias("series_numbering"),
        F.coalesce(scalar("title"), F.lit("")).alias("title"),
        F.coalesce(scalar("author"), F.lit("")).alias("author"),
    )


def pair_quality(assign: dict, truth: dict) -> dict:
    """Pairwise precision and recall of an (id -> group or None)
    assignment against ground-truth entity ids, over the ids in
    ``truth``."""
    def pairs(groups: dict) -> set:
        out = set()
        for ids in groups.values():
            ids = sorted(ids)
            out.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
        return out

    pred: dict[str, list[str]] = {}
    for rid, g in assign.items():
        if g is not None and rid in truth:
            pred.setdefault(g, []).append(rid)
    real: dict[str, list[str]] = {}
    for rid, w in truth.items():
        real.setdefault(w, []).append(rid)
    p, r = pairs(pred), pairs(real)
    tp = len(p & r)
    return {"dedup_precision": tp / len(p) if p else 1.0,
            "dedup_recall": tp / len(r) if r else 1.0}


def _json_ids(spark, path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    df = spark.read.json(path)
    if "id" not in df.columns:
        return []
    return sorted(r[0] for r in df.select("id").collect())


def _files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


# ---------------------------------------------------------------------------
# catalog_build
# ---------------------------------------------------------------------------


class CatalogBuild:
    """import xS -> deduplicate -> mark-deleted -> watermark-driven
    update-index with delete batches -> OAI-PMH ListRecords of the
    indexed source's set."""

    name = "catalog_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.truth = json.load(open(ctx.path("truth.json")))
        self.deleted = json.load(open(ctx.path("deleted.json")))
        self.sources = list(gen.SOURCES)
        # one index update and one OAI set per pass keep a pass within
        # the run budget; the other sources' would repeat the same work
        self.indexed = self.sources[0]
        self.pages: list[list[tuple]] = []

    def run(self, traced: bool) -> int:
        ctx = self.ctx
        w = ctx.fresh_work()
        records = os.path.join(w, "records")
        ini = ctx.path("datasources.ini")
        shutil.copy(ctx.path("state.json"), os.path.join(w, "state.json"))
        if traced:
            self._traced(records, ini)
        else:
            for s in self.sources:
                ctx.ops.timed("import", run_cli, [
                    "import", "--config", ini, "--source", s,
                    "--file", ctx.path("dumps", s), "--records", records,
                    "--id-tag", "controlfield"])
            ctx.ops.timed("deduplicate", run_cli, [
                "deduplicate", "--records", records,
                "--out", os.path.join(w, "dedup")])
            ctx.ops.timed("mark-deleted", run_cli, self._mark_deleted(records))
            ctx.ops.timed("update-index", run_cli, [
                "update-index", "--records", records, "--config", ini,
                "--source", self.indexed, "--out", os.path.join(w, "solr"),
                "--mappings", ctx.path("mappings"),
                "--state-file", os.path.join(w, "state.json")])
        self._list_records(records)
        return len(self.truth)

    def _mark_deleted(self, records: str) -> list[str]:
        argv = ["mark-deleted", "--records", records]
        for rid in self.deleted:
            argv += ["--id", rid]
        return argv

    def _list_records(self, records: str) -> None:
        """Harvest the indexed source's OAI set page by page, as a
        downstream harvester does after the build."""
        from recordmanager_spark.operators.range_query import range_page
        from recordmanager_spark.sinks.oai_provider import disseminate

        ctx = self.ctx
        store = ctx.spark.read.parquet(records)

        def page(offset: int) -> list[tuple]:
            df = range_page(store, "updated", "_id",
                            set_filter={"source_id": self.indexed},
                            offset=offset, limit=OAI_PAGE)
            return [tuple(r) for r in disseminate(
                df, "marc21", oai_id_col=None).select(
                "_id", "updated", "oai_record").collect()]

        self.pages = []
        while not self.pages or len(self.pages[-1]) == OAI_PAGE:
            with ctx.tracer.span("oai.page"):
                rows = ctx.ops.timed("oai-page", page, OAI_PAGE * len(self.pages))
            if rows is None:
                break
            self.pages.append(rows)

    def _traced(self, records: str, ini: str) -> None:
        from recordmanager_spark.operators import dedup as D

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        for i, s in enumerate(self.sources):
            batch = sum(1 for r in self.truth if r.startswith(s + "."))
            with tr.span("sources.split" if i == 0 else "sources.upsert",
                         records=batch) as a:
                run_cli(["import", "--config", ini, "--source", s,
                         "--file", ctx.path("dumps", s), "--records", records,
                         "--id-tag", "controlfield"])
                if i:
                    a["rows_written"] = tr.count(spark.read.parquet(records))
                    a["batch_rows"] = batch
        store = spark.read.parquet(records)
        with tr.span("extractors.marc") as a:
            verify = stage(spark, verify_frame(cli.extract_wide(store, "marc")),
                           ctx.work("verify"))
            a["records"] = tr.count(verify)
        with tr.span("dedup.keys"):
            keyed = stage(spark, D.with_dedup_keys(
                verify, title_col="title", author_col="author",
                isbn_col="isbn"), ctx.work("keyed"))
        # deduplicate's two halves, the staged edges handed from one to
        # the other: the edge pass exactly as deduplicate calls it (no
        # edge-set distinct), then its component assignment
        with tr.span("dedup.block_verify") as a:
            edges = stage(spark, D.blocking_verified_edges(
                keyed, KEY_COLS, "_id", "source_id", CANDIDATE_CAP,
                distinct=False), ctx.work("edges"))
            a["verified_edges"] = tr.count(
                edges.select("id_a", "id_b").distinct())
        with tr.span("dedup.candidates") as a:  # counting only
            a["candidate_pairs"] = tr.count(D.blocking_pairs(
                keyed, KEY_COLS, "_id", "source_id", CANDIDATE_CAP))
            a["capped_keys"] = tr.count(_capped_keys(keyed))
        with tr.span("dedup.components") as a:
            out = stage(spark, D._assign_components(
                edges, keyed, "_id", "source_id", strategy="adaptive")
                .withColumnRenamed("component", "dedup_id"),
                os.path.join(ctx.work_dir, "dedup"))
            a["groups"] = tr.count(out.where(
                F.col("dedup_id").isNotNull()).select("dedup_id").distinct())
        with tr.span("sources.mark_deleted"):
            run_cli(self._mark_deleted(records))
        self._traced_update_index(records, os.path.join(ctx.work_dir, "solr"))

    def _traced_update_index(self, records: str, out: str) -> None:
        """update-index split at its layer boundaries: watermark
        selection, extraction, mapping/field rules, normalisation, sink."""
        from recordmanager_spark.operators.incremental import changed_since
        from recordmanager_spark.operators.normalize import normalize_fields
        from recordmanager_spark.sinks.solr import (
            write_delete_batches, write_update_batches)

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        cfg = cli._load_config(ctx.path("datasources.ini"), self.indexed)
        compiled = CF.compile_source(
            cfg, lambda n: open(ctx.path("mappings", n)).read())
        store = spark.read.parquet(records).where(
            F.col("source_id") == self.indexed)
        live = store.where(~F.col("deleted"))
        with tr.span("incremental.select") as a:
            sel = stage(spark, changed_since(live, "updated", gen.WATERMARK,
                                             slack_seconds=5),
                        ctx.work("sel"))
            a["selected"] = tr.count(sel)
            a["candidates"] = tr.count(live)
        with tr.span("extractors.marc") as a:
            wide = stage(spark, cli.extract_wide(sel, cfg.format)
                         .withColumn("id", F.col("_id"))
                         .withColumn("institution", F.lit(cfg.institution)),
                         ctx.work("wide"))
            a["records"] = tr.count(wide)
        with tr.span("plans.mapping"):
            mapped = stage(spark, CF.apply_source_pipeline(wide, compiled),
                           ctx.work("mapped"))
        with tr.span("normalize"):
            final = stage(spark, normalize_fields(
                mapped.select(*[c for c in mapped.columns
                                if c != "original_data"]), barrier=True),
                ctx.work("final"))
        with tr.span("sinks.solr") as a:
            write_update_batches(final, out)
            a["docs"] = tr.count(final)
            a["files"] = _files(out)
        with tr.span("sinks.solr_delete") as a:
            write_delete_batches(changed_since(
                store.where(F.col("deleted")), "updated", gen.WATERMARK,
                slack_seconds=5), "_id", out + "-deletes")
            a["ids"] = tr.count(spark.read.text(out + "-deletes"))

    def check(self) -> dict:
        from recordmanager_spark.operators.dedup import check_dedup_consistency

        ctx, spark = self.ctx, self.ctx.spark
        w = ctx.work_dir
        store = spark.read.parquet(os.path.join(w, "records"))
        rows = store.select("_id", "source_id", "deleted").collect()
        ctx.ops.check("store_ids", sorted(r[0] for r in rows)
                      == sorted(self.truth), "record store ids")
        in_set = sorted(r[0] for r in rows if r[1] == self.indexed)
        live = sorted(r[0] for r in rows
                      if r[1] == self.indexed and not r[2])
        got = _json_ids(spark, os.path.join(w, "solr"))
        ctx.ops.check("solr_ids", got == live,
                      f"{len(got)} docs vs {len(live)} live")
        dels = _json_ids(spark, os.path.join(w, "solr-deletes"))
        ctx.ops.check("delete_ids", dels == self.deleted,
                      f"{len(dels)} deletes vs {len(self.deleted)} marked")
        served = [r for p in self.pages for r in p]
        keys = [(r[1], r[0]) for r in served]
        ctx.ops.check("oai_ordered", keys == sorted(keys), "page order")
        ctx.ops.check("oai_disjoint_complete",
                      sorted(r[0] for r in served) == in_set,
                      f"{len(served)} served vs {len(in_set)} in set")
        tomb = sorted(r[0] for r in served if 'status="deleted"' in r[2])
        ctx.ops.check("oai_deleted_headers", tomb == self.deleted,
                      f"{len(tomb)} deleted headers")
        assign = spark.read.parquet(os.path.join(w, "dedup"))
        issues = check_dedup_consistency(
            assign.withColumnRenamed("id", "_id"), store).count()
        ctx.ops.check("dedup_consistency", issues == 0, f"{issues} issues")
        return pair_quality({r[0]: r[1] for r in assign.collect()},
                            self.truth)


def _capped_keys(keyed):
    """Blocking keys shared by more records than the candidate cap."""
    keys = keyed.select(F.explode(F.concat(
        *[F.coalesce(F.col(k), F.array().cast("array<string>"))
          for k in KEY_COLS])).alias("k")).where(F.col("k") != "")
    return keys.groupBy("k").count().where(F.col("count") > CANDIDATE_CAP)


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------


class CorpusCurate:
    """WARC segments -> curate (strip_html, fix_mojibake, languages,
    blocklist, minhash dedup, min_tokens, split) -> BM25 index of the
    curated corpus -> a batch of audit searches."""

    name = "corpus_curate"

    def __init__(self, ctx):
        from recordmanager_spark.corpus_config import parse_corpus_ini

        self.ctx = ctx
        self.truth = json.load(open(ctx.path("truth.json")))
        self.cfg = parse_corpus_ini(open(ctx.path("corpus.ini")).read())["web"]

    def run(self, traced: bool) -> int:
        ctx = self.ctx
        w = ctx.fresh_work()
        out = os.path.join(w, "curated")
        staging = os.path.join(w, "staging")
        curate = ["curate", "--config", ctx.path("corpus.ini"),
                  "--corpus", "web", "--out", out, "--staging", staging]
        index = ["index", "--input", out, "--table", INDEX_TABLE,
                 "--buckets", "8"]
        search = ["search", "--table", INDEX_TABLE,
                  "--queries", ctx.path("queries.parquet"),
                  "--k", str(SEARCH_K), "--out", os.path.join(w, "results")]
        if traced:
            self._traced(out, staging)
            with ctx.tracer.span("retrieval.build"):
                run_cli(index)
            with ctx.tracer.span("retrieval.bm25"):
                run_cli(search)
        else:
            ctx.ops.timed("curate", run_cli, curate)
            ctx.ops.timed("index", run_cli, index)
            ctx.ops.timed("search", run_cli, search)
        return len(self.truth["clusters"])

    def _traced(self, out: str, staging: str) -> None:
        from recordmanager_spark.corpus_config import (
            apply_corpus_pipeline, load_corpus_source, pre_dedup_gates)
        from recordmanager_spark.operators import text_dedup as TD

        ctx, spark, tr, cfg = self.ctx, self.ctx.spark, self.ctx.tracer, self.cfg
        with tr.span("sources.warc") as a:
            docs = stage(spark, load_corpus_source(spark, cfg.source).drop(
                "http_headers"), staging)
            a["docs"] = tr.count(docs)
        with tr.span("curate.gates") as a:
            gated = stage(spark, pre_dedup_gates(docs, cfg), ctx.work("gated"))
            a["kept"] = tr.count(gated)
            a["docs"] = tr.count(docs)
        with tr.span("text_dedup.signature"):
            sigs = stage(spark, TD.minhash_signature(
                gated, "doc_id", "text", cfg.minhash_num_perm,
                cfg.minhash_shingle_n), ctx.work("sigs"))
        with tr.span("text_dedup.lsh") as a:
            cands = stage(spark, TD.lsh_candidate_pairs(
                sigs, cfg.minhash_bands, cfg.minhash_rows), ctx.work("cands"))
            a["candidate_pairs"] = tr.count(cands)
        with tr.span("text_dedup.verify") as a:
            pairs = stage(spark, TD.jaccard_verify(
                gated, cands, "doc_id", "text", cfg.minhash_threshold,
                cfg.minhash_shingle_n), ctx.work("pairs"))
            a["verified_pairs"] = tr.count(pairs)
        # the rest of the curate pipeline on the staged gated documents
        # and verified pairs: near-duplicate pruning, then the stages
        # after the dedup tier, with the gates and dedup already done
        tail = dataclasses.replace(
            cfg, strip_html=False, fix_mojibake=False, languages=[],
            blocklist=None, dedup=None)
        with tr.span("curate.pipeline"):
            kept = TD.near_dup_prune(gated, pairs, id_col="doc_id").where(
                F.col("keep")).drop("cluster_id", "keep")
            apply_corpus_pipeline(kept, tail).write.mode(
                "overwrite").parquet(out)

    def check(self) -> dict:
        ctx, spark = self.ctx, self.ctx.spark
        w = ctx.work_dir
        rows = spark.read.parquet(os.path.join(w, "curated")).select(
            "doc_id", "text").collect()
        texts = [r[1] for r in rows]
        ctx.ops.check("no_exact_duplicates", len(texts) == len(set(texts)),
                      f"{len(texts) - len(set(texts))} duplicate texts")
        results = spark.read.parquet(os.path.join(w, "results")).collect()
        queries = spark.read.parquet(ctx.path("queries.parquet")).collect()
        bad = [q[0] for q in queries[:2] if not self._bm25_matches(
            q[1], sorted((r["rank"], r["doc_id"], r["score"])
                         for r in results if r["query_id"] == q[0]))]
        ctx.ops.check("bm25_bruteforce", not bad, f"mismatch on {bad}")
        return survivor_quality({r[0] for r in rows},
                                set(self.truth["eligible"]),
                                self.truth["clusters"])

    def _bm25_matches(self, q: str, got: list) -> bool:
        """Served top-k equals a brute-force BM25 over the same index."""
        from recordmanager_spark.functions.text import (
            normalize_for_fingerprint, tokenize)
        from recordmanager_spark.sources.bucketed import read_bucketed

        spark = self.ctx.spark
        terms = spark.createDataFrame([(q,)], "t string").select(
            tokenize(normalize_for_fingerprint("t"))).first()[0] or []
        qtf: dict[str, int] = {}
        for t in terms:
            qtf[t] = qtf.get(t, 0) + 1
        post = read_bucketed(spark, INDEX_TABLE).where(
            F.col("term").isin(list(qtf))).select(
            "term", "doc_id", "tf", "dl").collect()
        n, avgdl = spark.table(INDEX_TABLE + "_stats").first()
        df: dict[str, int] = {}
        for p in post:
            df[p[0]] = df.get(p[0], 0) + 1
        score: dict[str, float] = {}
        k1, b = 1.2, 0.75
        for term, doc, tf, dl in post:
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            score[doc] = score.get(doc, 0.0) + qtf[term] * idf * (
                tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        want = sorted(((round(s, 6), d) for d, s in score.items()),
                      key=lambda x: (-x[0], x[1]))[:SEARCH_K]
        return len(got) == len(want) and all(
            g[1] == e[1] and abs(g[2] - e[0]) < 1e-5
            for g, e in zip(got, want))


def survivor_quality(survivors: set, eligible: set, truth: dict) -> dict:
    """Dedup precision and recall judged on which documents survived.

    Over the documents the generator made to pass every gate
    (``eligible``: English, long enough, not blocklisted), each
    ground-truth cluster should keep exactly one.  A cluster keeping
    more than one missed a duplicate (recall); a cluster keeping none
    lost a document that was not a duplicate (precision)."""
    g: dict[str, int] = {}
    s: dict[str, int] = {}
    for d in eligible:
        g[truth[d]] = g.get(truth[d], 0) + 1
    for d in survivors & eligible:
        s[truth[d]] = s.get(truth[d], 0) + 1
    dups = sum(n - 1 for n in g.values())
    missed = sum(n - 1 for n in s.values() if n > 1)
    removed = len(eligible) - len(survivors & eligible)
    lost = sum(1 for c in g if c not in s)
    return {
        "dedup_precision": (removed - lost) / removed if removed else 1.0,
        "dedup_recall": 1.0 - missed / dups if dups else 1.0,
    }


WORKLOADS = {c.name: c for c in (CatalogBuild, CorpusCurate)}
