"""Output checks. None of this is timed.

Extraction output is checked three ways on every repetition:

- ``plans.extract.extract_invariants`` over the full output must
  report zero on every violation column, apart from the documents it
  is known to miscount (``expected_invariants``);
- every input document is accounted for: a document appears in the
  output exactly when the reference emits something for it, its
  ``order`` runs 0..n-1 and its kinds are text/media;
- the span sequence of every document equals what the reference
  (``tools/oracle.extract_document``) computes for it.

Curation queries are compared with their ``oracle_sql()`` twin in
DuckDB, in the order-insensitive canonical form of
``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys
from collections import defaultdict

import pyarrow.dataset as ds

INVARIANT_COLUMNS = (
    "unaccounted_docs",
    "bad_order_docs",
    "bad_kind_rows",
    "media_no_ref_rows",
    "text_with_ref_rows",
    "cjk_text_rows",
    "bad_media_text_rows",
)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_digest() -> str:
    """sha256 over the reference and every engine module it imports
    from: a cached reference result is reused only by the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "tools", "oracle.py")]
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "ocr_spark"))):
        paths.extend(os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class ReferenceSequences:
    """Expected span sequences of documents, from the reference.

    Results are cached per document under ``cache_root/<code digest>``:
    runs draw from a fixed candidate pool, so later runs in the same
    tree reuse most of them. Missing ones are computed by a few worker
    processes (this file run as a script over a shard of documents)
    that start at once and are collected with ``result()``; meant to
    overlap input staging and Spark start-up, never a timed region.
    Plain subprocesses rather than a multiprocessing pool, whose
    resource tracker would outlive the run."""

    def __init__(self, docs: dict[str, list[dict]], workers: int, cache_root: str) -> None:
        self._dir = os.path.join(cache_root, code_digest())
        os.makedirs(self._dir, exist_ok=True)
        self._known: dict[str, list[tuple]] = {}
        todo = {}
        for doc_id, spans in docs.items():
            try:
                with open(os.path.join(self._dir, doc_id + ".json")) as f:
                    self._known[doc_id] = [tuple(x) for x in json.load(f)]
            except FileNotFoundError:
                todo[doc_id] = spans
        self.computed = len(todo)
        # costliest documents first, each to the least loaded shard
        shards: list[dict] = [{} for _ in range(min(workers, len(todo)))]
        loads = [0] * len(shards)
        for doc_id in sorted(todo, key=lambda d: (-len(todo[d]), d)):
            i = loads.index(min(loads))
            shards[i][doc_id] = todo[doc_id]
            loads[i] += len(todo[doc_id])
        self._procs: list[tuple[subprocess.Popen, str]] = []
        env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""))
        for i, shard in enumerate(shards):
            stem = os.path.join(self._dir, f".shard-{os.getpid()}-{i}")
            with open(stem + ".in", "w") as f:
                json.dump(shard, f, ensure_ascii=False)
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), stem + ".in", stem + ".out"],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
            )
            self._procs.append((proc, stem))

    def result(self) -> dict[str, list[tuple]]:
        try:
            for proc, stem in self._procs:
                if proc.wait() != 0:
                    raise RuntimeError(f"reference worker exited with code {proc.returncode}")
                with open(stem + ".out") as f:
                    for doc_id, seq in json.load(f).items():
                        tmp = os.path.join(self._dir, f".{doc_id}.{os.getpid()}.tmp")
                        with open(tmp, "w") as g:
                            json.dump(seq, g, ensure_ascii=False)
                        os.replace(tmp, os.path.join(self._dir, doc_id + ".json"))
                        self._known[doc_id] = [tuple(x) for x in seq]
            return self._known
        finally:
            self.cancel()

    def cancel(self) -> None:
        """Stop any worker still running, wait for each, and remove the
        shard files."""
        for proc, stem in self._procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            for path in (stem + ".in", stem + ".out"):
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass
        self._procs = []


def read_output(path: str, columns=("doc_id", "order", "kind", "text", "media_ref")) -> dict[str, list[tuple]]:
    """doc_id -> [(order, kind, text, media_ref)] sorted by ``order``,
    from a parquet output directory."""
    table = ds.dataset(path, format="parquet").to_table(columns=list(columns))
    per_doc: dict[str, list] = defaultdict(list)
    for doc_id, order, kind, text, ref in zip(*(table.column(c).to_pylist() for c in columns)):
        per_doc[doc_id].append((order, kind, text, ref))
    return {d: sorted(rows, key=lambda r: r[0]) for d, rows in per_doc.items()}


def compare_docs(output: dict[str, list[tuple]], expected: dict[str, list[tuple]]) -> tuple[dict[str, str], bool]:
    """Per-document verdicts for one repetition's output against the
    reference sequences of every input document.

    Returns (failed doc_id -> reason, structurally_sound). A structural
    failure is a document missing or extra, a broken ``order`` or an
    unknown kind; a content failure is a sequence that differs from
    the reference."""
    failed: dict[str, str] = {d: "extra" for d in output.keys() - expected.keys()}
    for doc_id, want in expected.items():
        rows = output.get(doc_id, [])
        if not rows:
            if want:
                failed[doc_id] = "missing"
        elif [r[0] for r in rows] != list(range(len(rows))):
            failed[doc_id] = "order"
        elif any(r[1] not in ("text", "media") for r in rows):
            failed[doc_id] = "kind"
    sound = not failed
    for doc_id, want in expected.items():
        if doc_id not in failed and [tuple(r[1:]) for r in output.get(doc_id, [])] != want:
            failed[doc_id] = "content"
    return failed, sound


def expected_invariants(inputs: dict[str, list[dict]], expected: dict[str, list[tuple]]) -> dict:
    """What ``extract_invariants`` reports on a correct output. Its doc
    accounting expects every document with a media span to emit rows,
    but a page with no detections emits none, in the reference too; such
    documents show as ``unaccounted_docs``."""
    want = dict.fromkeys(INVARIANT_COLUMNS, 0)
    want["unaccounted_docs"] = sum(
        1 for d, spans in inputs.items()
        if not expected[d] and any(s["kind"] == "media" for s in spans)
    )
    return want


def invariants(spark, out_path: str, docs_path: str) -> dict:
    """``extract_invariants`` over the full output, as a dict."""
    from ocr_spark.plans.extract import extract_invariants

    spans = spark.read.parquet(out_path).select("doc_id", "order", "kind", "text", "media_ref")
    row = extract_invariants(spans, spark.read.parquet(docs_path)).first().asDict()
    return {k: int(row[k] or 0) for k in INVARIANT_COLUMNS}


# -- curation ---------------------------------------------------------------

def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def canon(cols, rows) -> tuple[list[str], list[tuple]]:
    """Column-name-sorted, row-sorted string form (test_oracle_parity)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def duckdb_expected(names: list[str], tables: dict[str, str]) -> dict[str, tuple]:
    """Canonical DuckDB results of each query's ``oracle_sql()`` twin
    over the staged tables (name -> parquet directory)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = canon([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def read_query_output(path: str) -> tuple[list[str], list[tuple]]:
    """Canonical form of a query result written as parquet."""
    table = ds.dataset(path, format="parquet").to_table()
    cols = table.column_names
    return canon(cols, list(zip(*(table.column(c).to_pylist() for c in cols))) if cols else [])


def oracle_workers() -> int:
    return max(1, min(4, os.cpu_count() or 1))


def _oracle_shard(in_path: str, out_path: str) -> None:
    """Reference sequences of one shard of documents, file to file."""
    from tools.oracle import extract_document

    with open(in_path) as f:
        shard = json.load(f)
    out = {doc_id: extract_document(spans) for doc_id, spans in shard.items()}
    with open(out_path + ".tmp", "w") as f:
        json.dump(out, f, ensure_ascii=False)
    os.replace(out_path + ".tmp", out_path)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    _oracle_shard(sys.argv[1], sys.argv[2])
