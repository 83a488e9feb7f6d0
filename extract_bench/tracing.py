"""Layer tracing for the ``--trace 1`` run.

Three sources, all outside the program:

- driver-side spans: public entry points (``extract``,
  ``run_extract_job``, ``SnapshotStore.commit``, the weights
  broadcast) are wrapped where they are called and restored after;
- Spark's own event log, written to the run's work directory and
  parsed after the session stops, gives task time per stage kind;
- a single-process replay of the extraction kernels over the
  workload's staged batches, with spans around each kernel module's
  public functions (patched at their call sites), gives the OCR layers.
  Spans patched into the driver never reach the Python workers, hence
  the replay.

A span's self time is its duration minus the time of the spans it
encloses, so self times add up to the root span without double
counting.
"""

from __future__ import annotations

import json
import statistics
import time
import zlib
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span aggregation: per span name, calls, total and
    self seconds. Patches are recorded so ``restore`` undoes them."""

    def __init__(self) -> None:
        self.total: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._stack: list[float] = []
        self._patched: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.total.clear()
        self.self_s.clear()
        self.calls.clear()
        self.counts.clear()

    def _close(self, name: str, t0: float) -> None:
        dur = time.perf_counter() - t0
        child = self._stack.pop()
        self.total[name] += dur
        self.self_s[name] += dur - child
        self.calls[name] += 1
        if self._stack:
            self._stack[-1] += dur

    @contextmanager
    def region(self, name: str):
        self._stack.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._close(name, t0)

    def wrap(self, name: str, fn, before=None, after=None):
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(name, t0)
            if after is not None:
                after(result)
            return result

        return traced

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original, before, after))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)


# -- OCR kernel layers ------------------------------------------------------

def patch_kernel(tracer: Tracer, beams: list) -> None:
    """Spans around every kernel layer, at the name its caller looks
    up. ``beams`` collects each beam decode's candidates."""
    from ocr_spark.functions import crnn
    from ocr_spark.operators import extract_batch, postprocess
    from ocr_spark.sources import media, weights

    tracer.patch(extract_batch, "clean_text_spans", "operators.extract_batch.clean_text_spans")
    tracer.patch(extract_batch, "extract_media_spans_batch", "operators.postprocess.extract_media_spans_batch")
    tracer.patch(postprocess, "build_page", "sources.media.build_page")
    tracer.patch(postprocess, "detect_page", "operators.detect.detect_page")
    for fn in ("row_connect", "column_pairs", "build_forests", "judge_fraction"):
        tracer.patch(postprocess, fn, "operators.layout")
    tracer.patch(media, "box_probs_batch", "sources.media.box_probs_batch")
    tracer.patch(crnn, "render_label", "functions.crnn.render_label")
    tracer.patch(
        crnn, "forward_probs_batch", "functions.crnn.forward_probs_batch",
        before=lambda imgs, *_a, **_k: tracer.counts.update(crops=len(imgs)),
    )
    for fn in ("conv_features_batch", "recurrent_mix_batch", "class_probs_batch"):
        tracer.patch(crnn, fn, f"functions.crnn.{fn}")
    tracer.patch(weights, "project_probs", "sources.weights.project_probs")
    tracer.patch(postprocess, "greedy_decode_batch", "functions.ctc.greedy_decode_batch")
    tracer.patch(postprocess, "route_nodes", "operators.postprocess.route_nodes")
    tracer.patch(postprocess, "splice_vertical", "operators.postprocess.splice_vertical")
    tracer.patch(postprocess, "beam_decode_texts", "functions.ctc.beam_decode_texts", after=beams.append)
    tracer.patch(postprocess, "eval_verdict", "functions.arith.eval_verdict")


def heavy_order(rows: list[tuple]) -> list[tuple]:
    """Span-path rows (doc_id, offset, seq, kind, text, ref) -> output
    rows with ``order`` = rank by (offset, seq) within the document,
    as the plan's window assigns it."""
    per_doc: dict[str, list] = defaultdict(list)
    for r in rows:
        per_doc[r[0]].append(r)
    out = []
    for doc_id, rs in per_doc.items():
        rs.sort(key=lambda r: (r[1], r[2]))
        out.extend((doc_id, k, r[3], r[4], r[5]) for k, r in enumerate(rs))
    return out


def replay_batches(files: list[str], heavy_threshold: int, cores: int) -> tuple[list, list]:
    """The staged files cut the way the plan cuts them: documents with
    more than ``heavy_threshold`` media spans become span rows in
    8 x ``cores`` hash buckets (the plan's heavy-path width), the rest
    Arrow batches of ``cores`` file groups; both in chunks of the
    session's 256 rows. Returns (light batches, span frames)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = [pq.read_table(f) for f in files]
    light_batches, heavy_spans = [], []
    for g in range(cores):
        if not tables[g::cores]:
            continue
        table = pa.concat_tables(tables[g::cores]).combine_chunks()
        heavy = [
            sum(1 for s in sp if s["kind"] == "media") > heavy_threshold
            for sp in table.column("spans").to_pylist()
        ]
        light_batches.extend(table.filter(pa.array([not h for h in heavy])).to_batches(max_chunksize=256))
        for doc_id, sp in zip(*(table.filter(pa.array(heavy)).column(c).to_pylist() for c in ("doc_id", "spans"))):
            heavy_spans.extend((doc_id, s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp)
    n_buckets = 8 * cores
    buckets: list[list] = [[] for _ in range(n_buckets)]
    for r in heavy_spans:
        buckets[zlib.crc32(f"{r[0]}\x1f{r[4]}".encode()) % n_buckets].append(r)
    span_frames = [
        pd.DataFrame(b[s : s + 256], columns=["doc_id", "kind", "text", "media_ref", "offset"])
        for b in buckets
        for s in range(0, len(b), 256)
    ]
    return light_batches, span_frames


def replay_kernel(light_batches: list, span_frames: list, tracer: Tracer | None) -> tuple[float, list, list]:
    """Run the extraction kernels in this process over batches from
    ``replay_batches``. Returns (kernel seconds, output rows of the
    document kernel, raw rows of the span kernel); ``heavy_order``
    turns the latter into output rows once every span is in."""
    from ocr_spark.operators import extract_batch
    from ocr_spark.sources.weights import default_weights

    w = default_weights()
    region = tracer.region if tracer is not None else (lambda _name: _null())
    light_out, heavy_out = [], []
    t0 = time.perf_counter()
    for batch in light_batches:
        with region("operators.extract_batch.extract_doc_batch_arrow"):
            light_out.extend(extract_batch.extract_doc_batch_arrow(iter([batch]), weights=w))
    for pdf in span_frames:
        with region("operators.extract_batch.extract_span_batch"):
            heavy_out.extend(extract_batch.extract_span_batch(iter([pdf]), weights=w))
    seconds = time.perf_counter() - t0
    cols = ("doc_id", "order", "kind", "text", "media_ref")
    light_rows = [r for ob in light_out for r in zip(*(ob.column(c).to_pylist() for c in cols))]
    heavy_rows = [r for o in heavy_out for r in o.itertuples(index=False, name=None)]
    return seconds, light_rows, heavy_rows


@contextmanager
def _null():
    yield


# -- Spark event log ----------------------------------------------------------

def _acc(task: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in task["Task Info"].get("Accumulables", [])
        if a.get("Name") == name
    )


def stage_metrics(path: str, cores: int) -> dict[str, dict]:
    """Per job group, task time by stage kind (seconds) and stage
    statistics, from one application's uncompressed event log.

    Kinds: a task in a stage that runs ``MapInPandas`` is heavy-kernel
    work; one that reads shuffle in a stage with ``Window`` is
    heavy-window work; in a ``MapInArrow`` stage, the Python-worker
    time is light-kernel work, the scan time is scan work and the rest
    of the task is write work when the stage writes. Other tasks count
    as scan work when their stage scans parquet, as write work when it
    writes, else as other work. The kernel stage is the stage with the
    most Python-worker time. ``spark.read_query_s`` sums the wall time
    of the group's SQL executions that write nothing."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    group_of: dict[int, str] = {}
    jobs: Counter = Counter()
    ops: dict[int, set] = {}
    wall: dict[int, float] = {}
    sql_group: dict[str, str] = {}
    sql_start: dict[str, tuple[float, bool]] = {}
    sql_s: Counter = Counter()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jobs[g] += 1
            for s in e["Stage IDs"]:
                group_of[s] = g
            if "spark.sql.execution.id" in props:
                sql_group.setdefault(str(props["spark.sql.execution.id"]), g)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            sql_start[str(e["executionId"])] = (e["time"], "InsertIntoHadoopFsRelationCommand" in plan)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            start = sql_start.get(str(e["executionId"]))
            if start is not None and not start[1]:
                sql_s[str(e["executionId"])] = (e["time"] - start[0]) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            names = set()
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    names.add(json.loads(scope).get("name", "").strip())
            ops[info["Stage ID"]] = names
            if info.get("Completion Time") and info.get("Submission Time"):
                wall[info["Stage ID"]] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list] = defaultdict(list)
    stage_py: Counter = Counter()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or "Task Metrics" not in e:
            continue
        sid = e["Stage ID"]
        g = group_of.get(sid, "")
        m = out[g]
        tm = e["Task Metrics"]
        info = e["Task Info"]
        run = tm.get("Executor Run Time", 0) / 1000.0
        py = _acc(e, "time to run Python workers") / 1000.0
        scan = _acc(e, "scan time") / 1000.0
        sr = tm.get("Shuffle Read Metrics", {})
        reads_shuffle = (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) > 0
        m["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        m["spark.python_worker_init.task_s"] += _acc(e, "time to initialize Python workers") / 1000.0
        if info.get("Attempt", 0) > 0 or info.get("Failed"):
            m["spark.task_retries"] += 1
        s_ops = ops.get(sid, set())
        if "MapInPandas" in s_ops:
            m["spark.heavy_kernel.task_s"] += run
        elif reads_shuffle and "Window" in s_ops:
            m["spark.heavy_window.task_s"] += run
        elif "MapInArrow" in s_ops:
            m["spark.light_kernel.task_s"] += py
            m["spark.scan.task_s"] += scan
            m["spark.write.task_s" if "WriteFiles" in s_ops else "spark.other.task_s"] += max(run - py - scan, 0.0)
        elif "Scan parquet" in s_ops:
            m["spark.scan.task_s"] += run
        elif "WriteFiles" in s_ops:
            m["spark.write.task_s"] += run
        else:
            m["spark.other.task_s"] += run
        stage_tasks[sid].append(run)
        stage_py[sid] += py
    for ex, secs in sql_s.items():
        if ex in sql_group:
            out[sql_group[ex]]["spark.read_query_s"] += secs
    for g in list(out) + list(jobs):
        out[g]["spark.jobs"] = jobs[g]
        stages = [s for s in stage_tasks if group_of.get(s, "") == g and stage_py[s] > 0]
        if stages:
            k = max(stages, key=lambda s: stage_py[s])
            runs = stage_tasks[k]
            out[g]["spark.kernel_stage.task_skew"] = max(runs) / max(statistics.median(runs), 1e-3)
            if wall.get(k):
                out[g]["spark.kernel_stage.idle_frac"] = max(0.0, 1.0 - sum(runs) / (wall[k] * cores))
    return {g: dict(v) for g, v in out.items()}
