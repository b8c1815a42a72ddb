"""The three workloads: input generation, one closed-loop operation, the
output check and the isolated per-layer timings of the traced run.

An *operation* is what one client call costs a user: one
``run_corpus_pipeline`` (``unify``), one ``run_curation_pipeline``
(``curate``) or one registered query forced through the ``noop`` sink
(``query_mix``). A *pass* is one pipeline run or one sweep over the
query list.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from checks import frame_hash, query_mismatches, stats_mismatches

# Relational (q01, q09), text (q21), exact and fuzzy dedup (q10, q38,
# q58, q97) and curation (q59) queries: registry plan build, hidden
# eager jobs, codegen and the cross-query pair-table cache (q38 and q58
# build it, q97 reads it) are all exercised, while a cold pass plus warm
# passes still fit one run on the current engine.
QUERY_MIX = ("q01", "q09", "q21", "q10", "q38", "q58", "q97", "q59")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    # Warm passes every run makes. With ``run_seconds`` below one cold
    # plus ``min_warm`` warm passes, the pass count, and with it the
    # position on the JIT warm-up curve the warm median comes from, does
    # not depend on how fast the host happens to be.
    min_warm = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.truth: dict = {}
        self.input_rows = 0

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, probe) -> tuple[list[float], list[str]]:
        """Run one pass; return per-operation walls and failure notes."""
        raise NotImplementedError

    def final_check(self, spark) -> list[str]:
        """Checks kept outside the timed region; failure notes."""
        return []

    def isolated(self, spark, iso) -> dict:
        """Per-layer timings of each public function alone (traced run)."""
        return {}


class Unify(Workload):
    """Medallion unify: JSON scan and parse, the NFC Arrow UDF, the
    exact-dedup window, the seeded split and the partitioned gold write.
    No pair table and no registry plan-build."""

    name = "unify"

    def generate(self) -> None:
        self.truth = gen.make_unify(self.inputs, self.seed)
        self.input_rows = self.truth["stats"]["input"]
        self.layer_dirs = {n: os.path.join(self.inputs, n) for n in gen._LAYERS}

    def run_pass(self, spark, tracer, probe):
        from nahuatl_data_pipeline_spark.pipeline import run_corpus_pipeline

        out = os.path.join(self.work, "gold")
        t0 = time.perf_counter()
        with tracer.span("pass", "bench"):
            stats = run_corpus_pipeline(spark, self.layer_dirs, out)
        wall = time.perf_counter() - t0
        return [wall], stats_mismatches(stats, self.truth["stats"])

    def isolated(self, spark, iso):
        from nahuatl_data_pipeline_spark.operators.dedup import deduplicate, union_layers
        from nahuatl_data_pipeline_spark.operators.filters import (
            length_bounds_filter,
            translation_pair_filter,
        )
        from nahuatl_data_pipeline_spark.operators.split import seeded_split
        from nahuatl_data_pipeline_spark.pipeline import normalize_records
        from nahuatl_data_pipeline_spark.sources.readers import read_layer_dir
        from nahuatl_data_pipeline_spark.sources.writers import write_splits

        def scan():
            return union_layers(*[
                read_layer_dir(spark, p, layer=n, keep_invalid=True)
                for n, p in self.layer_dirs.items()])

        m = {}
        r = iso("scan", lambda: scan())
        m["sources.scan_s"] = r["wall"]
        raw = iso.cache(scan())
        m["sources.rows_read"] = raw.count()
        # records offered (parsed + malformed) minus records the reader kept
        m["sources.corrupt_skipped"] = (
            self.input_rows + self.truth["corrupt_lines"] - m["sources.rows_read"])
        m["sources.bytes_read"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d in self.layer_dirs.values() for f in os.listdir(d))
        m["functions.nfc_s"] = iso("nfc", lambda: normalize_records(raw))["wall"]
        valid = iso.cache(length_bounds_filter(
            translation_pair_filter(normalize_records(raw)), "es", 3, 1000))
        r = iso("dedup", lambda: deduplicate(valid))
        m["operators.dedup_shuffle_bytes"] = r["shuffle_write_bytes"]
        deduped = iso.cache(deduplicate(valid))
        r = iso("split", lambda: seeded_split(deduped, key="es"))
        m["operators.split_jobs"] = r["jobs"]
        split = iso.cache(seeded_split(deduped, key="es"))
        out = os.path.join(self.work, "iso_gold")
        r = iso("write", lambda: write_splits(split, out), action=False)
        m["sources.write_s"] = r["wall"]
        m.update(_dir_size(out, "sources"))
        return m


class Curate(Workload):
    """Web-corpus curation: the fuzzy-dedup pair family, connected-
    components rounds, PII regexes, URL head stages and decontamination.
    ``unify`` touches none of these."""

    name = "curate"

    def generate(self) -> None:
        raw = gen.make_curate(self.inputs, self.seed)
        self.truth = gen.near_dup_truth(raw)
        self.input_rows = self.truth["stats"]["input"]

    def _frames(self, spark):
        docs = spark.read.parquet(os.path.join(self.inputs, "docs.parquet"))
        ev = spark.read.parquet(os.path.join(self.inputs, "evalset.parquet"))
        return docs, ev

    def run_pass(self, spark, tracer, probe):
        from nahuatl_data_pipeline_spark.plans.curation_pipeline import (
            CurationConfig,
            run_curation_pipeline,
        )

        out = os.path.join(self.work, "gold")
        cfg = CurationConfig(fix_encoding=True, url_col="url",
                             max_docs_per_domain=gen.CURATE_CAP)
        t0 = time.perf_counter()
        with tracer.span("pass", "bench"):
            docs, ev = self._frames(spark)
            stats = run_curation_pipeline(spark, docs, out, evalset=ev, cfg=cfg)
        wall = time.perf_counter() - t0
        return [wall], stats_mismatches(stats, self.truth["stats"])

    def isolated(self, spark, iso):
        from pyspark.sql import functions as F

        from nahuatl_data_pipeline_spark.functions.pii import redact_pii
        from nahuatl_data_pipeline_spark.plans.curation_pipeline import url_head_stages

        m = {}
        docs, _ = self._frames(spark)
        m["sources.scan_s"] = iso("scan", lambda: self._frames(spark)[0])["wall"]
        m["sources.rows_read"] = docs.count()
        m["sources.bytes_read"] = os.path.getsize(
            os.path.join(self.inputs, "docs.parquet"))
        docs = iso.cache(docs)
        m["functions.url_s"] = iso("url", lambda: url_head_stages(
            docs, "url", F.col("doc_id"),
            max_docs_per_domain=gen.CURATE_CAP)[0])["wall"]
        m["functions.redact_s"] = iso("redact", lambda: docs.withColumn(
            "text", redact_pii(F.col("text"))))["wall"]
        m.update(_fuzzy(iso, docs.select("doc_id", "text")))
        out = os.path.join(self.work, "iso_gold")
        gold = iso.cache(spark.read.parquet(os.path.join(self.work, "gold")))
        m["sources.write_s"] = iso("write", lambda: gold.write.mode(
            "overwrite").parquet(out), action=False)["wall"]
        m.update(_dir_size(out, "sources"))
        return m


class QueryMix(Workload):
    """Registered queries on small generated tables: driver plan-build,
    hidden eager jobs, job scheduling, codegen and cross-query caches
    dominate. The seed sets the query order."""

    name = "query_mix"
    min_warm = 3

    def generate(self) -> None:
        import numpy as np

        rows = gen.make_tables(self.inputs, self.seed)
        self.input_rows = sum(rows.values())
        order = np.random.default_rng([self.seed, 4]).permutation(len(QUERY_MIX))
        self.order = [QUERY_MIX[i] for i in order]

    def _queries(self):
        from nahuatl_data_pipeline_spark import registry

        fns = registry.queries()
        full = {k.split("_")[0]: k for k in fns}
        return [(q, fns[full[q]]) for q in self.order], full

    def run_pass(self, spark, tracer, probe):
        queries, _ = self._queries()
        walls = []
        self.plan, self.plan_jobs = [], []
        for q, fn in queries:
            # job ids around the query call count the jobs it starts
            # before its action (traced run only: two status-store reads)
            j0 = probe.job_id() if tracer.enabled else 0
            t0 = time.perf_counter()
            with tracer.span(q, "bench"):
                with tracer.span(f"registry.{q}", "registry"):
                    df = fn(spark, self.inputs)
                t1 = time.perf_counter()
                if tracer.enabled:
                    self.plan_jobs.append(probe.job_id() - j0)
                _noop(df)
            t2 = time.perf_counter()
            walls.append(t2 - t0)
            self.plan.append(t1 - t0)
        return walls, []

    def final_check(self, spark):
        import duckdb

        from nahuatl_data_pipeline_spark import registry
        from nahuatl_data_pipeline_spark.schemas import TESTDATA_TABLES

        queries, full = self._queries()
        oracle = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                p = os.path.join(self.inputs, f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            want = {q: frame_hash(con.sql(oracle[full[q]]).df()) for q, _ in queries}
        finally:
            con.close()
        got = {q: frame_hash(fn(spark, self.inputs).toPandas()) for q, fn in queries}
        self.n_checked = len(queries)
        return [f"{q}: result hash differs from the DuckDB oracle"
                for q in query_mismatches(got, want)]

    def isolated(self, spark, iso):
        from pyspark.sql import functions as F

        from nahuatl_data_pipeline_spark.functions.pii import redact_pii
        from nahuatl_data_pipeline_spark.functions.url import canonicalize_url, url_domain
        from nahuatl_data_pipeline_spark.schemas import TESTDATA_TABLES, load_table

        m = {"sources.scan_s": 0.0, "sources.rows_read": 0}
        for t in TESTDATA_TABLES:
            if os.path.exists(os.path.join(self.inputs, f"{t}.parquet")):
                r = iso(f"scan.{t}", lambda t=t: load_table(spark, self.inputs, t))
                m["sources.scan_s"] += r["wall"]
                m["sources.rows_read"] += load_table(spark, self.inputs, t).count()
        m["sources.bytes_read"] = sum(
            os.path.getsize(os.path.join(self.inputs, f)) for f in os.listdir(self.inputs))
        docs = iso.cache(load_table(spark, self.inputs, "documents").select("doc_id", "text"))
        m["functions.redact_s"] = iso("redact", lambda: docs.withColumn(
            "text", redact_pii(F.col("text"))))["wall"]
        url = F.concat(F.lit("https://WWW.h"), (F.col("doc_id") % 50).cast("string"),
                       F.lit(".com/p/"), F.col("doc_id").cast("string"), F.lit("?utm_source=x"))
        m["functions.url_s"] = iso("url", lambda: docs.select(
            url_domain(canonicalize_url(url)).alias("d")))["wall"]
        m.update(_fuzzy(iso, docs))
        return m


def _fuzzy(iso, docs) -> dict:
    """Pair-family layer numbers on ``docs``: candidate pairs (the
    operator's own ``LAST_STATS`` record), verified pairs, their ratio,
    the pair build wall, and the components rounds and jobs."""
    from nahuatl_data_pipeline_spark.operators import fuzzy_dedup
    from nahuatl_data_pipeline_spark.operators.components import duplicate_clusters

    m = {}
    r = iso("fuzzy", lambda: fuzzy_dedup.ngram_jaccard_pairs(docs, "doc_id", "text"))
    m["fuzzy.pairs_s"] = r["wall"]
    m["fuzzy.candidate_pairs"] = int(fuzzy_dedup.LAST_STATS.get("banded_candidates", 0))
    pairs = iso.cache(fuzzy_dedup.ngram_jaccard_pairs(docs, "doc_id", "text"))
    m["fuzzy.verified_pairs"] = pairs.count()
    m["fuzzy.verify_ratio"] = (m["fuzzy.verified_pairs"] / m["fuzzy.candidate_pairs"]
                               if m["fuzzy.candidate_pairs"] else 0.0)
    r = iso("components", lambda: duplicate_clusters(pairs))
    m["components.jobs"] = r["jobs"]
    m["components.rounds"] = r["rounds"]
    return m


def _dir_size(path: str, prefix: str) -> dict:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    out = {f"{prefix}.bytes_written": sum(os.path.getsize(f) for f in files),
           f"{prefix}.files_written": len(files)}
    shutil.rmtree(path, ignore_errors=True)
    return out


WORKLOADS = {w.name: w for w in (Unify, Curate, QueryMix)}
