"""Extraction benchmark: one workload per invocation.

    python3 extract_bench/run.py --workload job_resume --seed 1 --seconds 10 --trace 0

Load model: this one driver process is a closed loop with one client,
submitting one Spark job at a time to ``local[nproc]``. The program
sees only the staged parquet. Set-up (fresh session, weights
broadcast, warm-up job) is timed three times and reported as its
median; then repetitions run back to back until their summed wall time
reaches ``--seconds``. Every repetition's output is checked, untimed.
With ``--trace 1`` the same repetitions run with layer tracing and the
per-layer metrics are printed instead of the end-to-end ones.

The last line of stdout is the result; the line before it is the run
record (host, normalizer, seed, input digest, repetitions, spread,
failed documents), which is also written to ``.bench_work/records``.
README.md beside this file documents the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from extract_bench import host  # noqa: E402
from extract_bench.workloads import CURATION_QUERIES, WORKLOADS  # noqa: E402

SETUP_REPS = 3
KERNEL_SPANS = {
    "functions.crnn.render_label": "functions.crnn.render_label.s",
    "functions.crnn.conv_features_batch": "functions.crnn.conv_features_batch.s",
    "functions.crnn.recurrent_mix_batch": "functions.crnn.recurrent_mix_batch.s",
    "functions.crnn.class_probs_batch": "functions.crnn.class_probs_batch.s",
    "functions.crnn.forward_probs_batch": "functions.crnn.forward_probs_batch.self_s",
    "functions.ctc.greedy_decode_batch": "functions.ctc.greedy_decode_batch.s",
    "functions.ctc.beam_decode_texts": "functions.ctc.beam_decode_texts.s",
    "functions.arith.eval_verdict": "functions.arith.eval_verdict.s",
    "sources.media.build_page": "sources.media.build_page.s",
    "sources.media.box_probs_batch": "sources.media.box_probs_batch.self_s",
    "sources.weights.project_probs": "sources.weights.project_probs.s",
    "operators.detect.detect_page": "operators.detect.detect_page.s",
    "operators.layout": "operators.layout.s",
    "operators.postprocess.route_nodes": "operators.postprocess.route_nodes.s",
    "operators.postprocess.splice_vertical": "operators.postprocess.splice_vertical.s",
    "operators.postprocess.extract_media_spans_batch": "operators.postprocess.extract_media_spans_batch.self_s",
    "operators.extract_batch.clean_text_spans": "operators.extract_batch.clean_text_spans.s",
}


def _quartiles(values: list[float]) -> dict:
    v = sorted(values)
    if len(v) >= 2:
        q1, med, q3 = statistics.quantiles(v, n=4, method="inclusive")
    else:
        q1 = med = q3 = v[0]
    return {"n": len(v), "median": med, "q1": q1, "q3": q3, "min": v[0], "max": v[-1]}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _session(work: str, cores: int, trace: bool):
    from ocr_spark.plans.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(master=f"local[{cores}]", app_name="extract_bench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it.
    Also stops a JVM whose session never finished building."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    except Py4JError:  # a gateway broken by an interrupted call; the JVM is stopped below
        pass
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
                        proc.kill()
                        proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _driver_patches(tracer, spark, captured: dict) -> None:
    """Spans around the program's public entry points, where they are
    called. Plan construction inside ``extract`` runs under its own
    job group so that eager jobs can be counted from the event log."""
    from pyspark import SparkContext

    from ocr_spark.plans import extract as plans_extract
    from ocr_spark.plans import io

    sc = spark.sparkContext

    def plan_group(*_a, **_k):
        sc.setJobGroup(captured["group"] + "-plan", "extract plan construction")

    def timed_group(_result):
        sc.setJobGroup(captured["group"], "timed repetition")

    def head_stats(result):
        captured.setdefault("head_means", []).append(result["mean"])

    tracer.patch(io, "extract", "plans.extract.extract", before=plan_group, after=timed_group)
    tracer.patch(plans_extract, "_file_head_stats", "plans.extract.head_stats", after=head_stats)
    tracer.patch(SparkContext, "broadcast", "spark.broadcast")
    tracer.patch(io, "run_extract_job", "plans.io.run_extract_job")
    tracer.patch(io.SnapshotStore, "commit", "plans.io.SnapshotStore.commit")


def _kernel_trace(wl, walls: list[float], cores: int) -> dict:
    """Replay the kernels over the workload's staged files, each batch
    once untraced and once traced (alternating which goes first, so
    both see the same host conditions), and check the replay against
    Spark's rows."""
    from extract_bench import tracing
    from ocr_spark.config import HEAVY_MEDIA_SPANS, HEAVY_SKEW_RATIO
    from ocr_spark.functions.arith import eval_verdict

    files = sorted(os.path.join(wl.corpus_dir, f) for f in os.listdir(wl.corpus_dir))
    threshold = max(HEAVY_MEDIA_SPANS, int(HEAVY_SKEW_RATIO * wl.head_mean))
    light, frames = tracing.replay_batches(files, threshold, cores)
    tracing.replay_kernel(light[:1], frames[:1], None)  # first-use imports and caches
    tracer, beams = tracing.Tracer(), []
    seconds = {False: 0.0, True: 0.0}
    rows = {False: ([], []), True: ([], [])}
    units = [([b], []) for b in light] + [([], [f]) for f in frames]
    for i, (batches, span_frames) in enumerate(units):
        for traced in (i % 2 == 1, i % 2 == 0):
            if traced:
                tracing.patch_kernel(tracer, beams)
            try:
                s, light_rows, heavy_rows = tracing.replay_kernel(batches, span_frames, tracer if traced else None)
            finally:
                tracer.restore()
            seconds[traced] += s
            rows[traced][0].extend(light_rows)
            rows[traced][1].extend(heavy_rows)
    plain_s, traced_s = seconds[False], seconds[True]
    spark_rows = wl.output_rows()
    replays = [light_rows + tracing.heavy_order(heavy_rows) for light_rows, heavy_rows in rows.values()]
    wl.replay_matches = all(len(r) == len(spark_rows) and set(r) == spark_rows for r in replays)
    m = {metric: tracer.self_s.get(span, 0.0) for span, metric in KERNEL_SPANS.items()}
    roots = ("operators.extract_batch.extract_doc_batch_arrow", "operators.extract_batch.extract_span_batch")
    m["operators.extract_batch.assembly.self_s"] = sum(tracer.self_s.get(r, 0.0) for r in roots)
    m["operators.extract_batch.extract_span_batch.s"] = tracer.total.get(roots[1], 0.0)
    m["functions.arith.eval_verdict.calls"] = tracer.calls["functions.arith.eval_verdict"]
    crops = tracer.counts["crops"]
    m["functions.crnn.crops"] = crops
    m["functions.crnn.crops_per_call"] = crops / max(tracer.calls["functions.crnn.forward_probs_batch"], 1)
    m["functions.ctc.beam_calls"] = len(beams)
    rescued = sum(1 for cands in beams if any(eval_verdict(c) == "right" for c in cands))
    m["functions.ctc.beam_rescue_ratio"] = rescued / len(beams) if beams else 0.0
    m["kernel.replay_s"] = plain_s
    m["kernel.ms_per_media_span"] = 1000.0 * plain_s / wl.n_media
    m["kernel.layer_sum_over_replay"] = sum(tracer.self_s.values()) / plain_s
    m["trace.overhead_frac"] = traced_s / plain_s - 1.0
    m["spark.parallel_efficiency"] = plain_s / (_median(walls) * cores)
    m["plans.extract.heavy_docs"] = sum(1 for spans in wl.inputs.values() if sum(s["kind"] == "media" for s in spans) > threshold)
    return m


PER_LAYER = [
    *KERNEL_SPANS.values(),
    "functions.arith.eval_verdict.calls",
    "functions.crnn.crops",
    "functions.crnn.crops_per_call",
    "functions.ctc.beam_calls",
    "functions.ctc.beam_rescue_ratio",
    "operators.extract_batch.assembly.self_s",
    "operators.extract_batch.extract_span_batch.s",
    "operators.extract_batch.text_keep_ratio",
    "kernel.replay_s",
    "kernel.ms_per_media_span",
    "kernel.layer_sum_over_replay",
    "trace.overhead_frac",
    "spark.parallel_efficiency",
    "plans.extract.extract.s",
    "plans.extract.calls",
    "plans.extract.eager_jobs",
    "plans.extract.heavy_docs",
    "plans.extract.head_stats.s",
    "spark.broadcast.s",
    "plans.io.run_extract_job.s",
    "plans.io.SnapshotStore.commit.s",
    "plans.io.commits",
    "plans.io.group_stats_s",
    "plans.io.recover_s",
    "plans.io.redo_buckets",
    "plans.io.orphan_files",
    "plans.io.write_amplification",
    "spark.scan.task_s",
    "spark.light_kernel.task_s",
    "spark.heavy_kernel.task_s",
    "spark.heavy_window.task_s",
    "spark.write.task_s",
    "spark.other.task_s",
    "spark.python_worker_init.task_s",
    "spark.shuffle_write_bytes",
    "spark.kernel_stage.task_skew",
    "spark.kernel_stage.idle_frac",
    "spark.task_retries",
    "spark.jobs",
    "spark.peak_pss_mb",
    "curation.jobs",
    *(f"curation.{q}.s" for q in CURATION_QUERIES),
    "check.failed_frac",
]
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s"}
UNITS = {"s": "s", "self_s": "s", "task_s": "s", "calls": "count", "crops": "count", "beam_calls": "count",
         "jobs": "count", "commits": "count", "heavy_docs": "count", "eager_jobs": "count",
         "redo_buckets": "count", "orphan_files": "count", "task_retries": "count",
         "shuffle_write_bytes": "bytes", "group_stats_s": "s", "recover_s": "s", "replay_s": "s",
         "ms_per_media_span": "ms", "peak_pss_mb": "MB"}


def _unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    return UNITS.get(tail, "ratio")


def run(args) -> tuple[dict, dict]:
    from extract_bench import tracing

    cores = os.cpu_count() or 1
    window = host.HostWindow()
    normalizer = host.speed_normalizer()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    trace = bool(args.trace)
    wl = WORKLOADS[args.workload](work, args.seed, cores)
    spark = None
    try:
        phases = {}
        t_run = time.perf_counter()
        staged = wl.stage()
        phases["stage_s"] = time.perf_counter() - t_run
        t0 = time.perf_counter()
        spark = _session(work, cores, trace)
        spark.range(1).collect()
        jvm_launch_s = time.perf_counter() - t0
        # one untimed repetition: the JVM compiles its hot paths and
        # Spark its generated code over the first jobs, so the timed
        # repetitions start warm
        wl.rep(spark)
        wl.ready()
        phases["reference_s"] = time.perf_counter() - t_run

        setup = []
        for _ in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = _session(work, cores, trace)
            wl.warmup(spark)
            setup.append(time.perf_counter() - t0)

        tracer = tracing.Tracer()
        captured: dict = {}
        if trace:
            _driver_patches(tracer, spark, captured)
        peak = host.PeakMemory()
        reps, rep_spans, checked, failed_ids = [], [], [], {}
        attempted = failed = 0
        sound = True
        try:
            while not reps or sum(r["wall_s"] for r in reps) < args.seconds:
                captured["group"] = f"bench-rep-{len(reps)}"
                spark.sparkContext.setJobGroup(captured["group"], "timed repetition")
                tracer.reset()
                try:
                    with peak:
                        reps.append(wl.rep(spark))
                except Exception:  # noqa: BLE001 - a failed job fails every document of the repetition
                    traceback.print_exc(file=sys.stderr)
                    attempted += wl.n_docs
                    failed += wl.n_docs
                    sound = False
                    break
                rep_spans.append({"total": dict(tracer.total), "calls": dict(tracer.calls)})
                spark.sparkContext.setJobGroup("bench-check", "output check")
                result = wl.check(spark)
                checked.append({k: v for k, v in result.items() if k != "failed"} | {"failed": len(result["failed"])})
                attempted += result["attempted"]
                failed += len(result["failed"])
                failed_ids.update(result["failed"])
                sound = sound and result["sound"]
        finally:
            tracer.restore()

        phases["reps_and_checks_s"] = time.perf_counter() - t_run - sum(phases.values()) - sum(setup)
        walls = [r["wall_s"] for r in reps]
        if not walls:
            raise RuntimeError("no repetition completed")
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": int(trace),
            "inputs": staged,
            "cores": cores,
            "jvm_launch_s": jvm_launch_s,
            "setup_s": setup,
            "wall_s": _quartiles(walls),
            "reps": reps,
            "checks": checked,
            "failed_docs": dict(sorted(failed_ids.items())),
            "normalizer": normalizer,
            "peak_pss_mb": peak.peak,
            "phases": phases,
        }
        if trace:
            layer = {}
            if wl.name == "job_resume":
                wl.head_mean = _median(captured.get("head_means", [0.0]))
                layer = _kernel_trace(wl, walls, cores)
                sound = sound and wl.replay_matches
                layer.update(wl.io_metrics())
            layer.update(_span_metrics(rep_spans))
            layer["plans.io.recover_s"] = _median(r.get("recover_s", 0.0) for r in reps)
            for name in CURATION_QUERIES:
                layer[f"curation.{name}.s"] = _median(r.get("query_s", {}).get(name, 0.0) for r in reps)
            if checked and "text_keep_ratio" in checked[-1]:
                layer["operators.extract_batch.text_keep_ratio"] = checked[-1]["text_keep_ratio"]
            app = spark.sparkContext.applicationId
            _stop_jvm(spark)
            spark = None
            layer.update(_stage_layer(os.path.join(work, "eventlog", app), len(reps), cores, wl.name))
            layer["check.failed_frac"] = failed / attempted if attempted else 0.0
            layer["spark.peak_pss_mb"] = peak.peak
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": _unit(n)} for n in PER_LAYER}
        else:
            metrics = {
                "setup_s": _median(setup),
                "wall_s": _median(walls),
                "docs_per_s": _median(wl.n_docs / w for w in walls),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        phases["total_s"] = time.perf_counter() - t_run
        record["host"] = window.record()
        record["failed_frac"] = failed / attempted if attempted else 0.0
        return record, {
            "correct": bool(sound),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": metrics,
        }
    finally:
        try:
            wl.close()
        finally:
            try:
                _stop_jvm(spark)
            finally:
                shutil.rmtree(work, ignore_errors=True)


def _span_metrics(rep_spans: list[dict]) -> dict:
    """Median per repetition of the driver-side spans."""
    def med(kind: str, name: str) -> float:
        return _median(r[kind].get(name, 0.0) for r in rep_spans)

    return {
        "plans.extract.extract.s": med("total", "plans.extract.extract"),
        "plans.extract.calls": med("calls", "plans.extract.extract"),
        "plans.extract.head_stats.s": med("total", "plans.extract.head_stats"),
        "spark.broadcast.s": med("total", "spark.broadcast"),
        "plans.io.run_extract_job.s": med("total", "plans.io.run_extract_job"),
        "plans.io.SnapshotStore.commit.s": med("total", "plans.io.SnapshotStore.commit"),
        "plans.io.commits": med("calls", "plans.io.SnapshotStore.commit"),
    }


def _stage_layer(eventlog: str, n_reps: int, cores: int, wl_name: str) -> dict:
    """Median per repetition of the event-log stage metrics."""
    from extract_bench import tracing

    groups = tracing.stage_metrics(eventlog, cores)
    reps = [groups.get(f"bench-rep-{i}", {}) for i in range(n_reps)]
    names = {k for r in reps for k in r}
    m = {k: _median(r.get(k, 0.0) for r in reps) for k in names}
    m["plans.extract.eager_jobs"] = _median(
        groups.get(f"bench-rep-{i}-plan", {}).get("spark.jobs", 0) for i in range(n_reps)
    )
    if wl_name == "job_resume":
        m["plans.io.group_stats_s"] = m.pop("spark.read_query_s", 0.0)
    if wl_name == "curation":
        m["curation.jobs"] = m.get("spark.jobs", 0.0)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and workers and removes its
    # work directory; a second SIGTERM does not interrupt that
    def terminate(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)
    host.adopt_orphans()
    try:
        return _main(args)
    finally:
        left = host.reap_descendants()
        if left:
            print(f"extract_bench: killed {left} process(es) left running", file=sys.stderr)


def _main(args) -> int:
    missing = [p for p in ("ocr_spark", "tools/oracle.py", "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"extract_bench: program sources not found beside the benchmark: {missing}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    try:
        record, result = run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc(file=sys.stderr)
        return 1
    records = os.path.join(ROOT, ".bench_work", "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
