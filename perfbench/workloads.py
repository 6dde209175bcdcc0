"""The benchmark's workloads: inputs made from a seed, one unit of
work, and the checks on its outputs.

A ``kg`` unit is one documents KG build followed by one run of the
repos KG job; a ``query_mix`` unit is one pass over the query mix.
An operation is one KG build, one job or one query execution; each is
timed on its own and checked outside its timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.001")
TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "supplier")


def load_json(name: str) -> dict:
    with open(os.path.join(BENCH_DIR, name), encoding="utf8") as fh:
        return json.load(fh)


def _norm(v) -> str:
    """Engine-neutral text form of one value (floats to 6 digits)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, columns: list[str]) -> str:
    """Order-insensitive content hash: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(_norm(r[i]) for i in order)
                       for r in rows):
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def materialize(df):
    """Compute every row and column of ``df`` and bring them to the
    driver as one Arrow table; nothing is written."""
    return df.toArrow()


def digest(table) -> tuple[int, str]:
    """Row count and content hash of a materialized result."""
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    return table.num_rows, value_hash(rows, table.column_names)


@dataclass
class Op:
    """One timed operation and its outcome."""
    name: str
    seconds: float = 0.0
    cpu: float = 0.0
    jit_cpu: float = 0.0
    ok: bool = True
    error: str | None = None
    telemetry: dict = field(default_factory=dict)


@dataclass
class Unit:
    """One unit of work: its wall time (checks excluded) and its ops."""
    wall: float
    ops: list[Op]

    @property
    def cpu(self) -> float:
        return sum(op.cpu for op in self.ops)

    @property
    def jit_cpu(self) -> float:
        return sum(op.jit_cpu for op in self.ops)


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot names its JIT compiler threads "C1 CompilerThre…"/"C2 …"
JIT_THREAD = "CompilerThre"


def _stat(path: str) -> list[str]:
    """The fields of a ``/proc`` stat file after the command name."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree() -> list[int]:
    """This process and every process under it (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat(f"/proc/{entry}/stat")[1])
        except OSError:  # the process ended while we looked
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_reading() -> dict:
    """CPU clock ticks of the process tree, children it has reaped
    included, and of each JIT compiler thread in it.  The kernel
    charges no hypervisor steal to a process, so these count only the
    time the program's threads ran."""
    procs, jit = 0, {}
    for pid in process_tree():
        try:
            procs += sum(map(int, _stat(f"/proc/{pid}/stat")[11:15]))
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if JIT_THREAD not in fh.read():
                        continue
                jit[tid] = sum(map(int, _stat(
                    f"/proc/{pid}/task/{tid}/stat")[11:13]))
            except OSError:
                continue
    return {"procs": procs, "jit": jit}


def cpu_between(r0: dict, r1: dict) -> tuple[float, float]:
    """CPU seconds between two readings: the program's, and the JIT
    compiler's, which is left out of the program's.  How much the JIT
    compiles in a window depends on when the JVM decides to, not on
    the work in it."""
    jit = sum(t - r0["jit"].get(tid, 0) for tid, t in r1["jit"].items())
    return (r1["procs"] - r0["procs"] - jit) / CLK_TCK, jit / CLK_TCK


class Meter:
    """Peak RSS of the process tree.  The kernel keeps each process's
    peak (``VmHWM``); ``start`` resets it and ``peak_rss_mb`` sums it
    over the tree, so nothing is sampled while operations run."""

    def start(self) -> None:
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")  # reset the peak to the current RSS
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        kb = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kb += next(int(line.split()[1]) for line in fh
                               if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                pass
        return kb / 1024.0


def _run_op(name: str, fn) -> tuple[Op, object]:
    """Run ``fn`` as one operation: time it, count its CPU, record host
    telemetry, and turn an exception into a failed op."""
    from lacspark import telemetry

    op = Op(name)
    s0 = telemetry.cpu_sample()
    c0 = cpu_reading()
    t0 = time.perf_counter()
    out = None
    try:
        out = fn()
    except Exception:  # a failed operation is counted, not fatal
        op.ok = False
        op.error = traceback.format_exc(limit=8)
    op.seconds = time.perf_counter() - t0
    op.cpu, op.jit_cpu = cpu_between(c0, cpu_reading())
    op.telemetry = telemetry.span(s0)
    return op, out


class Workload:
    """What every workload has: inputs made from the seed in
    ``prepare`` (before the session), a unit of work, the figures
    derived from it, and in ``stage`` what only the traced run needs
    (after the measured units)."""

    name = ""
    # measured units a run needs even when ``--seconds`` is shorter
    min_units = 1

    def __init__(self):
        self.observed: list | dict = []

    @property
    def chars(self) -> int:
        """Characters tagged per unit."""
        return 0

    def stage(self, spark) -> None:
        pass

    def triples_per_unit(self) -> int:
        return 0

    def replay_batches(self, cores: int) -> list[list[str]]:
        """The texts the workload tags, batched as its tag operator
        batches them; empty when it tags nothing."""
        return []


class DocsKG(Workload):
    """KG construction over the documents table, in a seed-permuted
    row order: tag and extract (rank mode), explode mentions and
    triples, canonicalize, build vertices and edges.  Every build is
    checked."""

    name = "docs_kg"

    def __init__(self, expected: dict | None, limit: int | None = None):
        super().__init__()
        self.expected = expected
        self.limit = limit
        self.texts: list[str] = []
        self.path = ""

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))
        if self.limit is not None:
            table = table.slice(0, self.limit)
        order = list(range(table.num_rows))
        random.Random(seed).shuffle(order)
        table = table.take(order)
        self.path = os.path.join(work, "documents.parquet")
        pq.write_table(table, self.path)
        self.texts = ["" if t is None else t
                      for t in table.column("text").to_pylist()]

    @property
    def chars(self) -> int:
        return sum(map(len, self.texts))

    def unit(self, spark, tracer) -> Unit:
        from lacspark.spark.canonical import canonical_map
        from lacspark.spark.graph import build_edges, build_vertices
        from lacspark.spark.tagger import (explode_mentions,
                                           explode_triples, tag_and_extract)

        cached = []
        out: dict = {}

        def build():
            docs = spark.read.parquet(self.path)
            with tracer.span("tagger.tag_and_extract"):
                tagged = tag_and_extract(docs, "text", mode="rank").persist()
                cached.append(tagged)
                out["n_docs"] = tagged.count()
            with tracer.span("tagger.explode"):
                mentions = explode_mentions(tagged, ["doc_id"]).persist()
                triples = explode_triples(tagged, ["doc_id"]).persist()
                cached.extend([mentions, triples])
                out["n_mentions"] = mentions.count()
                out["n_triples"] = triples.count()
            with tracer.span("canonical.canonical_map"):
                cmap = canonical_map(mentions).persist()
                cached.append(cmap)
                cmap.count()
            with tracer.span("graph.build_vertices"):
                vertices = materialize(build_vertices(mentions, cmap))
            with tracer.span("graph.build_edges"):
                edges = materialize(build_edges(triples, cmap))
            return vertices, edges

        try:
            with tracer.span(f"{self.name}.unit"):
                op, graph = _run_op("kg_build", build)
        finally:
            for df in cached:
                df.unpersist()
        if op.ok:
            self._check(op, out, *graph)
        return Unit(op.seconds, [op])

    def _check(self, op: Op, out: dict, vertices, edges) -> None:
        n_vertices, vertices_hash = digest(vertices)
        n_edges, edges_hash = digest(edges)
        out.update(n_chars=self.chars, n_vertices=n_vertices,
                   n_edges=n_edges, vertices_hash=vertices_hash,
                   edges_hash=edges_hash)
        self.observed.append(out)
        bad = {k: (v, out.get(k)) for k, v in (self.expected or {}).items()
               if out.get(k) != v}
        if bad:
            op.ok = False
            op.error = f"output mismatch (expected, got): {bad}"

    def triples_per_unit(self) -> int:
        return self.observed[-1]["n_triples"] if self.observed else 0

    def replay_batches(self, cores: int) -> list[list[str]]:
        # one round-robin slice per core, cut into Arrow batches of at
        # most 1,024 rows
        slices = [self.texts[i::cores] for i in range(cores)]
        return [s[i:i + 1024] for s in slices for i in range(0, len(s), 1024)]


# run_pipeline's table writes, by the span each is charged to
WRITE_SPANS = {"files": "files", "mentions": "extractions",
               "triples": "extractions", "lineage": "lineage",
               "cap_audit": "lineage", "kg_vertices": "graph",
               "kg_edges": "graph"}


def _write_span(df, location, table, *args, **kwargs) -> str:
    return f"catalog.write_table.{WRITE_SPANS.get(table, table)}"


class ReposKG(Workload):
    """The KG job of ``jobs/run_kg.py``: ``run_pipeline`` with resume
    off, into a fresh output directory each run, over a
    ``synth_repos_files`` corpus made from the seed and staged to
    parquet before set-up.  Every job is checked: at the pinned seed
    against the pins, at any other seed against the run's first job."""

    name = "repos_kg"
    # the job's default is 64; at 128 files that would leave two per
    # bucket, and the time budget has no room for more files
    n_buckets = 4

    def __init__(self, expected: dict | None, n_files: int):
        super().__init__()
        self.expected = expected or {}
        self.n_files = n_files
        self.seed = 0
        self.work = ""
        self.path = ""
        self.n_chars = 0
        self.batches: list[list[str]] = []
        self.jobs = 0

    def prepare(self, work: str, seed: int) -> None:
        """Write the corpus ``synth_repos_files`` makes for the seed,
        row for row, without a Spark session."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from lacspark.spark.repos_files import SCHEMA, _gen_row

        self.work, self.seed = work, seed
        self.path = os.path.join(work, "repos_files.parquet")
        rows = [_gen_row(i, seed, 20) for i in range(self.n_files)]
        names = SCHEMA.fieldNames()
        pq.write_table(pa.table({n: [r[i] for r in rows]
                                 for i, n in enumerate(names)}), self.path)
        self.n_chars = sum(len(ln) for r in rows
                           for ln in r[names.index("content")].split("\n"))

    def stage(self, spark) -> None:
        from lacspark.spark.pipeline import with_bucket

        rows = (with_bucket(spark.read.parquet(self.path), self.n_buckets)
                .select("bucket", "content").toArrow().to_pylist())
        # a bucket is one partition of the tag stage; its files are
        # tagged in Arrow batches of at most 1,024, lines flattened
        by_bucket: dict[int, list[str]] = {}
        for r in rows:
            by_bucket.setdefault(r["bucket"], []).append(r["content"])
        self.batches = [
            [ln for c in files[i:i + 1024] for ln in c.split("\n")]
            for _, files in sorted(by_bucket.items())
            for i in range(0, len(files), 1024)]

    @property
    def chars(self) -> int:
        return self.n_chars

    def unit(self, spark, tracer) -> Unit:
        from lacspark.spark import catalog, pipeline
        from tracing import spans_around

        self.jobs += 1
        out_dir = os.path.join(self.work, f"kg-{self.jobs}")
        targets = [(catalog, "write_table", _write_span),
                   (pipeline, "canonical_map",
                    lambda *a, **k: "canonical.canonical_map")]

        def job():
            files = spark.read.parquet(self.path)
            with tracer.span("pipeline.run_pipeline.self"), \
                    spans_around(tracer, targets):
                return pipeline.run_pipeline(spark, files, out_dir,
                                             n_buckets=self.n_buckets,
                                             resume=False)

        try:
            with tracer.span(f"{self.name}.unit"):
                op, metrics = _run_op("kg_job", job)
            if op.ok:
                self._check(op, spark, out_dir, metrics)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return Unit(op.seconds, [op])

    def _check(self, op: Op, spark, out_dir: str, metrics: dict) -> None:
        out = {k: metrics[k] for k in ("n_files", "n_triples", "n_sha_bad",
                                       "n_buckets_processed")}
        # the graph is built from the mentions and triples read back
        # from the job's output, so it checks those writes too
        for table in ("kg_vertices", "kg_edges"):
            n, h = digest(spark.read.parquet(f"{out_dir}/{table}").toArrow())
            out[f"n_{table[3:]}"], out[f"{table[3:]}_hash"] = n, h
        self.observed.append(out)
        if self.seed == self.expected.get("seed"):
            want = self.expected["outputs"]
        else:
            want = self.observed[0]
        bad = {k: (v, out.get(k)) for k, v in want.items() if out.get(k) != v}
        if out["n_sha_bad"]:
            bad["n_sha_bad"] = (0, out["n_sha_bad"])
        if bad:
            op.ok = False
            op.error = f"output mismatch (expected, got): {bad}"

    def triples_per_unit(self) -> int:
        return self.observed[-1]["n_triples"] if self.observed else 0

    def replay_batches(self, cores: int) -> list[list[str]]:
        return self.batches


class KG(Workload):
    """Both KG constructions, one after the other in each unit: a
    ``docs_kg`` build, then a ``repos_kg`` job.  Each part keeps its
    own root span, checks and pins."""

    name = "kg"
    min_units = 2

    def __init__(self, docs: DocsKG, repos: ReposKG):
        super().__init__()
        self.parts = (docs, repos)
        self.observed = {p.name: p.observed for p in self.parts}

    def prepare(self, work: str, seed: int) -> None:
        for p in self.parts:
            os.makedirs(os.path.join(work, p.name), exist_ok=True)
            p.prepare(os.path.join(work, p.name), seed)

    def stage(self, spark) -> None:
        for p in self.parts:
            p.stage(spark)

    @property
    def chars(self) -> int:
        return sum(p.chars for p in self.parts)

    def unit(self, spark, tracer) -> Unit:
        units = [p.unit(spark, tracer) for p in self.parts]
        return Unit(sum(u.wall for u in units),
                    [op for u in units for op in u.ops])

    def triples_per_unit(self) -> int:
        return sum(p.triples_per_unit() for p in self.parts)

    def replay_batches(self, cores: int) -> list[list[str]]:
        return [b for p in self.parts for b in p.replay_batches(cores)]


class QueryMix(Workload):
    """Every registered query that does not call the tagger, each
    materialized in full, in a seed-permuted order in one session.
    Every execution is checked after its pass."""

    name = "query_mix"
    min_units = 2

    def __init__(self, expected: dict | None, layers: dict[str, str],
                 queries: list[str] | None = None):
        super().__init__()
        self.expected = expected or {}
        self.layers = layers
        self.queries = list(queries or layers)
        self.sf_dir = ""
        self.order: list[str] = []
        self.observed: dict[str, dict] = {}

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        for t in TABLES:
            shutil.copyfile(os.path.join(DATA_DIR, f"{t}.parquet"),
                            os.path.join(self.sf_dir, f"{t}.parquet"))
        self.order = sorted(self.queries)
        random.Random(seed).shuffle(self.order)

    def unit(self, spark, tracer) -> Unit:
        """One pass; the results are checked once the pass is timed."""
        from lacspark.queries import SPARK_QUERIES

        ops, results = [], []
        t0 = time.perf_counter()
        with tracer.span(f"{self.name}.unit"):
            for q in self.order:
                with tracer.span(f"mix.{self.layers[q]}"):
                    op, table = _run_op(q, lambda q=q: materialize(
                        SPARK_QUERIES[q](spark, self.sf_dir)))
                ops.append(op)
                results.append(table)
        wall = time.perf_counter() - t0
        for op, table in zip(ops, results):
            if op.ok:
                self._check(op, table)
        return Unit(wall, ops)

    def _check(self, op: Op, table) -> None:
        rows, h = digest(table)
        got = self.observed[op.name] = {"rows": rows, "hash": h}
        want = self.expected.get(op.name)
        if want != got:
            op.ok = False
            op.error = f"output mismatch: expected {want}, got {got}"
