"""The benchmark's workloads.  Each makes its inputs from the seed
(``prepare``, untimed) and then runs timed passes (``run_pass``) whose
outputs it checks against a golden.

* ``suite_full``: one CLI validation of one database, then its nightly
  re-validation.  A pass validates a fresh warehouse with the default
  suite, checkpoint store and violations sink wired as ``cli.py`` wires
  them (the fresh leg), then re-validates the unchanged database through
  ``plans.fleet.run_fleet`` against the same checkpoint store (the
  resume leg): checks that passed skip, failed ones re-run their failed
  buckets.
* ``query_library``: the operator-tier queries of bench.py's headline
  set plus the token-payload queries, each consumed with a ``noop``
  write.  It never enters the Runner or the checks.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from stats import OpCounter

# the checks whose violation counts the fixture pins
# (synth.expected_violation_counts keys summed per check)
EXPECTED_FAILS = {
    "DocIdUnique": ("dup_rows",),
    "SequencesCompleteness": ("null_doc_id", "empty_doc_id",
                              "null_tokens", "empty_tokens"),
    "SourceReferential": ("orphan_source_rows",),
    "TokenInvariants": ("len_mismatch", "bad_token_rows"),
}
# skipped because the workload has no such input
EXPECTED_SKIPS = {"DataFilesExist", "EmbeddingHygiene",
                  "TokenSnapshotEquality"}
# the checkpoint's skip reason for a check that passed in a prior run
RESUMED = "All tests passed in a previous run"
# the fact-table checks with a per-layer wall of their own
HEAVY_CHECKS = ("DocIdUnique", "NTokDrift", "NTokQuantileDrift",
                "RowTotals", "SequencesStats", "SourceDrift", "SourcesUsed")

# the queries that reach the operator tiers (dedup, similarity, vectors,
# lm, importance, token_dedup, corpus), plus validation_summary, the
# engine's verdict shape.  The nine relational bench.HEADLINE queries
# (tpch_q1 ... quantile_drift_halves) are left out: they cost 9-10 s of
# a cold pass on 4 cores, which the run budget does not hold
QUERY_NAMES = [
    # bench.HEADLINE
    "validation_summary", "dedup_exact_documents", "ngram_jaccard_pairs",
    "minhash_lsh_candidates", "simhash_near_duplicates",
    "ann_bruteforce_topk", "quality_features_by_lang",
    "contamination_eval_vs_train", "incremental_dedup_documents",
    "repetition_signals_documents",
    # token-payload tiers
    "token_minhash_candidates_portable", "lm_perplexity_buckets_documents",
    "dsir_topk_documents", "token_rarity_documents",
    "heavy_hitter_shingles_documents", "source_budget_trim_documents",
    "quality_prep_pipeline", "token_passage_dedup_documents",
    "corpus_prep_pipeline",
]


@dataclass
class PassResult:
    wall_s: float
    # per-operation walls (one check verdict of the fresh run, one query)
    op_walls: list[float] = field(default_factory=list)
    details: dict = field(default_factory=dict)


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def _parquet_rows(path: str) -> int:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class SuiteFull:
    name = "suite_full"
    # a run's cost is mostly the cold JVM and the fixed per-check work
    # (some 130 Spark jobs): from 150k to 300k rows a run took 65-69 s on
    # 4 cores.  The 2M rows that motivated the workload do not fit the
    # run budget; see README.md
    rows = 200_000
    n_buckets = 64
    # the first pass after input generation is the measurement, as in
    # one CLI invocation; a second pass does not fit the run budget
    min_passes = 1
    # the fleet target name of the database; the fresh leg labels its
    # lineage the way run_fleet namespaces a target's, so that the fleet
    # re-validation resumes from the fresh leg's checkpoint rows
    db = "db0"

    def __init__(self, spark, workdir: str, seed: int, cores: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        # the CLI's default --parallelism, never more threads than cores
        self.parallelism = min(4, cores)

    def prepare(self) -> None:
        from ensembl_datacheck_spark.sources import synth
        from ensembl_datacheck_spark.sources.io import manifest_lineage

        spark, data = self.spark, os.path.join(self.workdir, "data")
        gen = dict(n_partitions=4, median_tok=64, max_tok=1024,
                   seed=self.seed)
        # every input on parquet, as the CLI reads them
        paths = {t: f"{data}/{t}" for t in
                 ("sequences", "sources", "baseline", "meta")}
        synth.gen_sequences(spark, self.rows, **gen).write.parquet(
            paths["sequences"])
        sequences = spark.read.parquet(paths["sequences"])
        # the unshifted baseline of the table itself: the drift checks
        # compare like with like and pass
        synth.gen_baseline_stats(spark, sequences).write.parquet(
            paths["baseline"])
        sources = synth.gen_sources(spark)
        sources.write.parquet(paths["sources"])
        synth.gen_meta(spark, sources, inject_violations=False).write.parquet(
            paths["meta"])
        self.tables = {
            "sequences": sequences,
            "baseline_stats": spark.read.parquet(paths["baseline"]),
            "sources": spark.read.parquet(paths["sources"]),
            "meta": spark.read.parquet(paths["meta"]),
        }
        self.sequences_bytes = sum(
            os.path.getsize(f) for f in glob.glob(
                f"{paths['sequences']}/*.parquet"))
        # the CLI's lineage: one slot-labelled manifest per input
        self.lineage = "|".join(
            f"{s}={manifest_lineage(p)}" for s, p in paths.items())
        expected = synth.expected_violation_counts(self.rows)
        self.expected = {c: sum(expected[k] for k in keys)
                         for c, keys in EXPECTED_FAILS.items()}

    def run_pass(self, pass_id: int, ops: OpCounter, tracer=None) -> PassResult:
        import ensembl_datacheck_spark.checks  # noqa: F401  (registers)
        from ensembl_datacheck_spark import registry
        from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore
        from ensembl_datacheck_spark.plans.fleet import DbTarget, run_fleet
        from ensembl_datacheck_spark.plans.runner import Runner
        from ensembl_datacheck_spark.sources.io import Catalog

        warehouse = os.path.join(self.workdir, f"warehouse_{pass_id}")
        catalog = Catalog(self.spark, warehouse)
        store = CheckpointStore(catalog)
        specs = registry.default_suite()

        def sink(df):
            with _span(tracer, "funnel.write"):
                catalog.append_atomic(df, "violations")

        t0 = time.perf_counter()
        fresh = Runner(
            self.spark, self.tables, n_buckets=self.n_buckets,
            checkpoint_store=store, lineage=f"{self.db}:{self.lineage}",
        ).run(specs, violations_sink=sink, parallelism=self.parallelism)
        t1 = time.perf_counter()
        with _span(tracer, "fleet"):
            fleet = run_fleet(
                self.spark, [DbTarget(self.db, self.tables, self.lineage)],
                specs, n_buckets=self.n_buckets, checkpoint_store=store,
                max_parallel_dbs=self.parallelism)
        t2 = time.perf_counter()

        self._check_verdicts(fresh, ops)
        violation_rows = _parquet_rows(os.path.join(warehouse, "violations"))
        want_rows = sum(self.expected.values())
        ops.record("violations_written", violation_rows == want_rows,
                   f"{violation_rows} rows, expected {want_rows}")
        resumed = fleet.by_db.get(self.db)
        if resumed is None:
            err = fleet.errors.get(self.db, "no summary").strip()
            ops.record("resume", False, err.splitlines()[-1])
            skipped = 0
        else:
            self._check_verdicts(resumed, ops, resumed=True)
            skipped = sum(r.status.value == "skip" for r in resumed.results)
        shutil.rmtree(warehouse, ignore_errors=True)
        return PassResult(
            wall_s=t2 - t0,
            op_walls=[r.finished - r.started for r in fresh.results],
            details={"violation_rows": violation_rows,
                     "fresh_s": t1 - t0, "resume_s": t2 - t1,
                     "resume_verdicts": len(resumed.results) if resumed else 0,
                     "resume_skipped": skipped})

    def _check_verdicts(self, summary, ops: OpCounter,
                        resumed: bool = False) -> None:
        """Golden per verdict: the four fixture checks fail with exactly
        the injected counts, the three whose input the workload lacks
        skip, and every other check passes.  On the resume leg every
        check that passed skips as done in the prior run, and the four
        fixture checks fail again with the same counts."""
        tag = "resume:" if resumed else ""
        for r in summary.results:
            status, name = r.status.value, r.check_name
            if name in self.expected:
                ok = status == "fail" and r.n_violations == self.expected[name]
                why = f"{status} with {r.n_violations} violations"
            elif resumed and name not in EXPECTED_SKIPS:
                ok = status == "skip" and r.skip_reason == RESUMED
                why = f"{status} ({r.skip_reason}), expected resumed skip"
            else:
                want = "skip" if name in EXPECTED_SKIPS else "ok"
                ok, why = status == want, f"{status}, expected {want}"
            if r.error:
                ok, why = False, r.error.strip().splitlines()[-1]
            ops.record(tag + name, ok, why)
        names = {r.check_name for r in summary.results}
        for missing in sorted(set(self.expected) - names):
            ops.record(tag + missing, False, "no verdict")


class QueryLibrary:
    name = "query_library"
    min_passes = 1

    def __init__(self, spark, workdir: str, seed: int, cores: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def prepare(self) -> None:
        """Write the tables, then take each query's golden row count
        from its DuckDB oracle SQL over the same files.
        ``minhash_lsh_candidates`` has no oracle (its xxhash64 signatures
        have no DuckDB twin): its golden is a lower bound, the planted
        near-duplicate pairs among the documents it reads, plus the
        same count on every execution."""
        import duckdb
        import querydata

        import __spark_entry__ as entry

        self.data = os.path.join(self.workdir, "tables")
        querydata.write_tables(self.seed, self.data)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in querydata.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.data}/{t}.parquet'")
            self.golden = {n: len(con.sql(oracles[n]).fetchall())
                           for n in QUERY_NAMES if n in oracles}
            # planted near-duplicates (text ends in "dup", the original
            # has a lower doc_id) inside the doc_id < 200 slice the query
            # reads; from 40 words up a copy keeps Jaccard > 0.8, which
            # 16 bands of 2 rows miss with probability < 1e-8
            self.minhash_floor = con.sql(
                "SELECT count(*) FROM documents WHERE doc_id < 200 "
                "AND text LIKE '% dup' "
                "AND len(string_split(text, ' ')) >= 40").fetchone()[0]
        finally:
            con.close()
        self.seen: dict[str, int] = {}

    def run_pass(self, pass_id: int, ops: OpCounter, tracer=None) -> PassResult:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ensembl_datacheck_spark.plans.entry_queries import QUERIES

        walls, counts = [], {}
        t0 = time.perf_counter()
        for name in QUERY_NAMES:
            t = time.perf_counter()
            try:
                with _span(tracer, f"query:{name}"):
                    obs = Observation(name)
                    (QUERIES[name](self.spark, self.data)
                     .observe(obs, F.count(F.lit(1)).alias("n"))
                     .write.format("noop").mode("overwrite").save())
                    n = obs.get["n"]
            except Exception as exc:  # an erroring query is a failed op
                n = None
                ops.record(name, False, f"{type(exc).__name__}: {exc}"[:300])
            walls.append(time.perf_counter() - t)
            if n is not None:
                counts[name] = n
                self._check(name, n, ops)
        wall = time.perf_counter() - t0
        return PassResult(wall_s=wall, op_walls=walls,
                          details={"rows_out": counts,
                                   "query_s": dict(zip(QUERY_NAMES, walls))})

    def _check(self, name: str, n: int, ops: OpCounter) -> None:
        if name in self.golden:
            want = self.golden[name]
            ops.record(name, n == want, f"{n} rows, oracle {want}")
            return
        first = self.seen.setdefault(name, n)
        ops.record(name, n == first and n >= self.minhash_floor,
                   f"{n} rows, first run {first}, "
                   f"planted pairs {self.minhash_floor}")


WORKLOADS = {w.name: w for w in (SuiteFull, QueryLibrary)}
