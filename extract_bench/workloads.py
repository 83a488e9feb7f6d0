"""The benchmark's workloads.

Each workload stages its inputs from the seed, warms a fresh session
(the set-up the benchmark times), runs one timed repetition at a time
through the program's public entry points, and checks the output of
every repetition. Why each workload exists is in README.md.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from extract_bench import checks, inputs

# Extraction corpus: 320 light documents in the recipe's media-count
# proportions plus one heavy document per band, about 1,200 media
# spans, ~40% of them in the heavy documents. Every document is checked
# against the reference, so a run checks at least 1,018 media spans.
N_LIGHT = 320
HEAVY_BANDS = [(50, 87), (88, 125), (126, 163), (164, 200)]
CORPUS_FILES = 16
# The set-up's warm-up corpus, the same for every seed.
WARM_SEED, WARM_LIGHT = 7, 12

# job_resume: 16 buckets committed in two groups of 8; the crash comes
# after the data write of the second group, before its commit. Each
# group is one extract() plan with a fixed cost of a few seconds, so
# two groups keep a repetition inside the run budget.
JOB_BUCKETS, JOB_GROUP, JOB_CRASH_AFTER = 16, 8, 1

CURATION_QUERIES = [
    "dedup_corpus",
    "minhash_banded_pairs",
    "seq_pack_plan",
    "training_shuffle",
    "bpe_pair_counts",
    "bigram_lm_scores",
    "semdedup_corpus",
    "decontaminated_corpus",
]
CURATION_DOCS, CURATION_VECS = 800, 320


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


class JobResume:
    """The production extraction job, ``plans.io.run_extract_job``,
    over a seeded recipe corpus in hash-bucketed files: a run that
    crashes after a group's data write, then a resume to a complete
    committed table, checked against the reference."""

    name = "job_resume"
    n_light, heavy_bands = N_LIGHT, HEAVY_BANDS

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.corpus_dir = os.path.join(work, "corpus")
        self.warm_dir = os.path.join(work, "warm")
        self.job_root = os.path.join(work, "job")
        # the committed table as readers see it, copied for the checks
        self.out_dir = os.path.join(work, "committed")

    def stage(self) -> dict:
        docs = inputs.draw_corpus(self.seed, self.n_light, self.heavy_bands)
        self.inputs = dict(docs)
        self.reference = checks.ReferenceSequences(
            self.inputs, checks.oracle_workers(), os.path.join(os.path.dirname(self.work), "reference")
        )
        inputs.write_corpus(docs, self.corpus_dir, CORPUS_FILES)
        warm = inputs.draw_corpus(WARM_SEED, WARM_LIGHT, [])
        inputs.write_corpus(warm, self.warm_dir, self.cores)
        warm_media = [inputs.n_media(s) for _, s in warm]
        self.warm_stats = (sum(warm_media) / len(warm_media), max(warm_media))
        self.n_media = sum(inputs.n_media(s) for _, s in docs)
        self.n_text = sum(len(s) for _, s in docs) - self.n_media
        return {
            "docs": len(docs),
            "media_spans": self.n_media,
            "heavy_docs": len(self.heavy_bands),
            "files": CORPUS_FILES,
            "reference_computed_docs": self.reference.computed,
            "digest": inputs.digest(sorted(docs)),
        }

    def ready(self) -> None:
        self.expected = self.reference.result()
        self.want_invariants = checks.expected_invariants(self.inputs, self.expected)

    def close(self) -> None:
        if hasattr(self, "reference"):
            self.reference.cancel()

    @property
    def n_docs(self) -> int:
        return len(self.inputs)

    def warmup(self, spark) -> None:
        """A small extraction that starts every Python worker and loads
        the kernel. Exact media statistics keep it a single stage."""
        from ocr_spark.plans.extract import extract

        extract(spark.read.parquet(self.warm_dir), media_stats=self.warm_stats).write.mode("overwrite").parquet(
            os.path.join(self.work, "warm_out")
        )

    def rep(self, spark) -> dict:
        from ocr_spark.plans import io

        shutil.rmtree(self.job_root, ignore_errors=True)
        docs = spark.read.parquet(self.corpus_dir)
        crashed = False
        t0 = time.perf_counter()
        try:
            io.run_extract_job(
                spark, docs, self.job_root, n_buckets=JOB_BUCKETS, group_size=JOB_GROUP,
                fail_after_groups=JOB_CRASH_AFTER, fail_point="after_write",
            )
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
            crashed = True
        t1 = time.perf_counter()
        data = os.path.join(self.job_root, "data")
        committed = io.SnapshotStore(self.job_root).committed_buckets()
        todo = [b for b in range(JOB_BUCKETS) if b not in committed]
        orphans = [b for b in todo if os.path.isdir(os.path.join(data, f"bucket={b}"))]
        self.crashed = crashed
        self.at_crash = {
            "bytes": _du(data),
            "orphan_files": sum(_data_files(os.path.join(data, f"bucket={b}")) for b in orphans),
            "redo_buckets": len(orphans),
            "todo": todo,
        }
        t2 = time.perf_counter()
        io.run_extract_job(spark, docs, self.job_root, n_buckets=JOB_BUCKETS, group_size=JOB_GROUP)
        t3 = time.perf_counter()
        return {"wall_s": (t1 - t0) + (t3 - t2), "recover_s": t3 - t2}

    def io_metrics(self) -> dict:
        data = os.path.join(self.job_root, "data")
        rewritten = sum(_du(os.path.join(data, f"bucket={b}")) for b in self.at_crash["todo"])
        return {
            "plans.io.redo_buckets": self.at_crash["redo_buckets"],
            "plans.io.orphan_files": self.at_crash["orphan_files"],
            "plans.io.write_amplification": (self.at_crash["bytes"] + rewritten) / max(_du(data), 1),
        }

    def check(self, spark) -> dict:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from ocr_spark.plans import io

        committed = io.SnapshotStore(self.job_root).committed_buckets()
        table = ds.dataset(os.path.join(self.job_root, "data"), format="parquet", partitioning="hive").to_table(
            filter=ds.field("bucket").isin(sorted(committed))
        )
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        pq.write_table(table.drop_columns(["bucket"]), os.path.join(self.out_dir, "part-0.parquet"))
        result = self.check_output(spark, self.out_dir)
        result["sound"] = result["sound"] and self.crashed and committed == set(range(JOB_BUCKETS))
        return result

    def check_output(self, spark, out_path: str) -> dict:
        output = checks.read_output(out_path)
        inv = checks.invariants(spark, out_path, self.corpus_dir)
        failed, sound = checks.compare_docs(output, self.expected)
        text_rows = sum(1 for rows in output.values() for r in rows if r[1] == "text")
        return {
            "attempted": self.n_docs,
            "failed": failed,
            "sound": sound and inv == self.want_invariants,
            "invariants": inv,
            "text_keep_ratio": text_rows / self.n_text if self.n_text else 0.0,
        }

    def output_rows(self) -> set:
        return {
            (d, o, k, t, r)
            for d, rows in checks.read_output(self.out_dir).items()
            for o, k, t, r in rows
        }


class Curation:
    """Corpus-curation driver queries over seeded copies of the
    ``documents`` and ``embeddings`` tables."""

    name = "curation"

    def __init__(self, work: str, seed: int, cores: int) -> None:
        self.work, self.seed, self.cores = work, seed, cores
        self.sf_dir = os.path.join(work, "sf")
        self.warm_dir = os.path.join(work, "warm_sf")
        self.out_dir = os.path.join(work, "out")

    def stage(self) -> dict:
        docs, emb = inputs.curation_tables(CURATION_DOCS, CURATION_VECS)
        inputs.write_shuffled(docs, os.path.join(self.sf_dir, "documents.parquet"), self.seed, 4)
        inputs.write_shuffled(emb, os.path.join(self.sf_dir, "embeddings.parquet"), self.seed, 3)
        warm_docs, _ = inputs.curation_tables(64, 8)
        inputs.write_shuffled(warm_docs, os.path.join(self.warm_dir, "documents.parquet"), 0, 2)
        self._pool = ThreadPoolExecutor(max_workers=1)
        tables = {t: os.path.join(self.sf_dir, f"{t}.parquet") for t in ("documents", "embeddings")}
        self._expected = self._pool.submit(checks.duckdb_expected, CURATION_QUERIES, tables)
        return {
            "docs": docs.num_rows,
            "vectors": emb.num_rows,
            "queries": len(CURATION_QUERIES),
            "digest": inputs.digest(docs.to_pylist() + emb.to_pylist()),
        }

    def ready(self) -> None:
        try:
            self.expected = self._expected.result()
        finally:
            self._pool.shutdown(wait=True)

    def close(self) -> None:
        if hasattr(self, "_pool"):
            self._pool.shutdown(wait=True, cancel_futures=True)

    @property
    def n_docs(self) -> int:
        return CURATION_DOCS

    def warmup(self, spark) -> None:
        import __spark_entry__ as entry

        entry.queries()["dedup_corpus"](spark, self.warm_dir).write.format("noop").mode("overwrite").save()

    def rep(self, spark) -> dict:
        import __spark_entry__ as entry

        queries = entry.queries()
        per_query = {}
        for name in CURATION_QUERIES:
            t0 = time.perf_counter()
            queries[name](spark, self.sf_dir).write.mode("overwrite").parquet(os.path.join(self.out_dir, name))
            per_query[name] = time.perf_counter() - t0
            # release blocks a query cached (localCheckpoint-ed CC rounds)
            # so that queries stay independent, as bench.py does
            for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                jrdd.unpersist(False)
        return {"wall_s": sum(per_query.values()), "query_s": per_query}

    def check(self, spark) -> dict:
        failed = {}
        for name in CURATION_QUERIES:
            if checks.read_query_output(os.path.join(self.out_dir, name)) != self.expected[name]:
                failed[name] = "content"
        return {"attempted": len(CURATION_QUERIES), "failed": failed, "sound": True}


WORKLOADS = {w.name: w for w in (JobResume, Curation)}
