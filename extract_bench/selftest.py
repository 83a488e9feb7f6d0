"""Self-test of the benchmark harness at tiny sizes.

    python3 extract_bench/selftest.py

Runs one ``job_resume`` repetition (crash, then resume) over a small
seeded corpus, then checks that the harness catches two corruptions of
the committed output: one media span's text flipped, and one document
dropped. Both must count as
failed, and the dropped one must also break the structural check.
Finally it runs the traced kernel replay and checks that the layer
self times sum to within 10% of ``kernel.replay_s`` and that the
replay reproduces Spark's rows. Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from extract_bench import run, tracing  # noqa: E402
from extract_bench.workloads import JobResume  # noqa: E402


class TinyJob(JobResume):
    n_light, heavy_bands = 24, [(50, 87)]


def _corrupt(src: str, dst: str, flip_doc: str, drop_doc: str) -> None:
    """Copy an extraction output with ``flip_doc``'s first media text
    changed and every row of ``drop_doc`` removed."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(src, format="parquet").to_table()
    table = table.filter(pc.not_equal(table.column("doc_id"), drop_doc))
    texts = table.column("text").to_pylist()
    hit = next(
        i for i, (d, k) in enumerate(zip(table.column("doc_id").to_pylist(), table.column("kind").to_pylist()))
        if d == flip_doc and k == "media"
    )
    texts[hit] = texts[hit] + "1"
    table = table.set_column(table.column_names.index("text"), "text", pa.array(texts, pa.string()))
    os.makedirs(dst)
    pq.write_table(table, os.path.join(dst, "part-0.parquet"))


def main() -> int:
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = TinyJob(work, 1, cores)
    spark = None
    ok = True

    def expect(cond: bool, what: str) -> None:
        nonlocal ok
        ok = ok and cond
        print(("PASS " if cond else "FAIL ") + what)

    try:
        wl.stage()
        spark = run._session(work, cores, trace=False)
        wl.ready()
        tracer, captured = tracing.Tracer(), {"group": "selftest"}
        run._driver_patches(tracer, spark, captured)
        try:
            wall = wl.rep(spark)["wall_s"]
        finally:
            tracer.restore()
        base = wl.check(spark)
        expect(base["sound"], f"clean output is structurally sound ({len(base['failed'])} known content mismatches)")

        media_docs = [
            d for d in wl.expected
            if d not in base["failed"] and any(k == "media" for k, _, _ in wl.expected[d])
        ]
        flip_doc, drop_doc = media_docs[0], media_docs[1]
        bad = os.path.join(work, "corrupt")
        _corrupt(wl.out_dir, bad, flip_doc, drop_doc)
        res = wl.check_output(spark, bad)
        expect(res["failed"].get(flip_doc) == "content", f"flipped span text counted as failed ({flip_doc})")
        expect(res["failed"].get(drop_doc) == "missing", f"dropped document counted as failed ({drop_doc})")
        expect(len(res["failed"]) == len(base["failed"]) + 2, "exactly two more failed documents")
        expect(
            res["invariants"]["unaccounted_docs"] == base["invariants"]["unaccounted_docs"] + 1 and not res["sound"],
            "dropped document breaks extract_invariants",
        )

        wl.head_mean = run._median(captured.get("head_means", [0.0]))
        t0 = time.perf_counter()
        layer = run._kernel_trace(wl, [wall], cores)
        ratio = layer["kernel.layer_sum_over_replay"]
        expect(wl.replay_matches, "kernel replay reproduces Spark's rows")
        expect(0.9 <= ratio <= 1.1, f"layer self times sum to {ratio:.3f} of kernel.replay_s")
        print(f"trace.overhead_frac {layer['trace.overhead_frac']:.3f}; traced replay took {time.perf_counter() - t0:.1f} s")
    finally:
        try:
            wl.close()
        finally:
            try:
                run._stop_jvm(spark)
            finally:
                shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
