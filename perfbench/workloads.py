"""The benchmark's three closed-loop, single-client workloads.

Each workload builds its inputs from the seed in ``setup()`` (untimed,
including warm-up work), then ``cycle()`` runs and checks one cycle of
ops: one op for the FEC workloads, one pass over the seed-ordered query
list for ``query_mix``. Only the program call is inside the timed
window; output checks run after it and mark the op failed on mismatch.
Input generation and the DuckDB oracle run in a child process, so the
Python driver's peak RSS covers the program, not the harness.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import pyarrow.feather as feather
import pyarrow.parquet as pq

import fecgen
import oracle
import tpchgen
from data_spark.fec import pipeline, schemas
from data_spark.queries import QUERIES

#: read-only inventory queries of ``query_mix`` and the tables each scans
QUERY_MIX = {
    "q1_pricing_summary": ("lineitem",),
    "q3_top_orders": ("customer", "orders", "lineitem"),
    "q5_nation_revenue": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "q18_large_orders": ("orders", "lineitem"),
    "p_compound_filter": ("lineitem",),
    "j_left_join_dim": ("orders", "customer", "nation"),
    "j_anti_unloaded": ("customer", "orders"),
    "u_distinct_master": ("lineitem",),
    "w_topk_global": ("lineitem",),
    "w_first_per_group": ("events",),
    "e_sessionize": ("events",),
    "d_dedup_exact": ("documents",),
}

BATCH_SIZE = 1000  # the reference's loaded_* batch size
# untimed batches before the first timed one: in a fresh JVM the first
# batch takes about twice as long as the ones after it
WARMUP_BATCHES = 2


@dataclass
class Op:
    op_id: str
    name: str
    ms: float
    rows: int
    ok: bool
    traced: bool = False
    notes: dict = field(default_factory=dict)


_HERE = os.path.dirname(os.path.abspath(__file__))


def _start_child(fn, *args) -> subprocess.Popen:
    """Start ``fn(*args)`` in a fresh Python process; arguments and
    result travel as JSON (see ``_finish_child``)."""
    code = (
        "import importlib, json, sys; "
        f"fn = getattr(importlib.import_module({fn.__module__!r}), {fn.__name__!r}); "
        "json.dump(fn(*json.loads(sys.argv[1])), sys.stdout)"
    )
    path = [os.path.dirname(_HERE), _HERE, os.environ.get("PYTHONPATH", "")]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in path if p)}
    return subprocess.Popen([sys.executable, "-c", code, json.dumps(args)], env=env, stdout=subprocess.PIPE, text=True)


def _finish_child(proc: subprocess.Popen):
    """Wait for a ``_start_child`` process and return its result."""
    out, _ = proc.communicate()
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, proc.args)
    return json.loads(out)


def _in_child(fn, *args):
    """Run ``fn(*args)`` in a fresh Python process and wait for it."""
    return _finish_child(_start_child(fn, *args))


def _dir_stats(root: str) -> tuple[int, int]:
    """(bytes, parquet part files) under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class _Workload:
    def __init__(self, spark, work_dir: str, seed: int, scale: float = 1.0, tracer=None):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer  # set only on traced runs
        self.setup_ok = True
        self._n = 0

    def _op_id(self, name: str) -> str:
        self._n += 1
        return f"{self._n}:{name}"

    @contextlib.contextmanager
    def _op(self, op_id: str, traced: bool):
        """When traced, put the block's spans under an ``op`` span of
        ``op_id`` and record the Spark jobs and tasks it ran and the JIT
        and GC time the JVM spent meanwhile."""
        if not traced:
            yield
            return
        self.tracer.op = op_id
        jit0, gc0 = self.tracer.jvm_ms()
        try:
            with self.tracer.span("op"):
                yield
        finally:
            self.tracer.op = "setup"
        jit1, gc1 = self.tracer.jvm_ms()
        self.tracer.close_op(op_id)
        self.tracer.notes[op_id].update(jit_ms=jit1 - jit0, gc_ms=gc1 - gc0)

    def _timed(self, name: str, traced: bool, fn):
        """Run ``fn`` in the timed window."""
        op_id = self._op_id(name)
        with self._op(op_id, traced):
            t0 = time.perf_counter()
            out = fn()
            ms = (time.perf_counter() - t0) * 1000.0
        return op_id, ms, out


class _Fec(_Workload):
    n_indiv = 12_000

    def _landing(self) -> None:
        """Land all 13 bulk files and take the expected results."""
        self.landing = os.path.join(self.work, "landing")
        self.out = os.path.join(self.work, "fec")
        land = _in_child(fecgen.land, self.seed, int(self.n_indiv * self.scale), self.landing)
        self.expected, self.keys, self.input_rows = land["expected"], land["keys"], land["input_rows"]
        self.landing_bytes, _ = _dir_stats(self.landing)

    def _build(self, out: str) -> dict[str, int]:
        counts = pipeline.run_bulk_import(self.spark, self.landing, out)
        counts.update(pipeline.run_derivations(self.spark, out))
        return counts

    def _build_notes(self, out: str) -> dict:
        out_bytes, out_files = _dir_stats(out)
        return {"bytes_out_per_byte_in": out_bytes / self.landing_bytes, "files_out": out_files}


class FecBulkElt(_Fec):
    """One op = a full ``run_bulk_import`` + ``run_derivations`` cycle
    from the landing files into a reset output directory."""

    def setup(self) -> None:
        self._landing()
        self.setup_ok = self._build(self.out) == self.expected  # warm-up cycle

    def cycle(self, traced: bool) -> list[Op]:
        shutil.rmtree(self.out, ignore_errors=True)
        op_id, ms, counts = self._timed("fec_bulk_elt", traced, lambda: self._build(self.out))
        notes = self._build_notes(self.out)
        return [Op(op_id, "fec_bulk_elt", ms, self.input_rows, counts == self.expected, traced, notes)]


class FecIncremental(_Fec):
    """One op = one ``run_incremental_docs(batch_size=1000,
    max_batches=1)`` batch. Set-up builds the contributions view the
    sink drains once, straight from the landed files (one validated
    write), and drains ``WARMUP_BATCHES`` batches; when fewer than a
    batch of rows remain undrained, the sink and its log are reset
    (untimed) so every op drains a full batch. A traced run's set-up
    also runs and checks one full bulk build (``run_bulk_import`` +
    ``run_derivations``, graph included) into a separate directory: the
    build whose layers the per-layer ``io``/``graph`` figures report."""

    def _build_view(self) -> int:
        # through the pipeline module's names, which is where a traced
        # run wraps them
        def read(prefix):
            path = os.path.join(self.landing, f"{prefix}.txt")
            return pipeline.read_pipe_delimited(self.spark, path, schemas.BY_PREFIX[prefix])

        master = pipeline.build_contributions_master(read("oth"), read("indiv"))
        view = pipeline.contributions_elastic(master, read("cn"), read("cm"))
        return pipeline.validated_overwrite(view, os.path.join(self.out, "contributions_elastic"))

    def setup(self) -> None:
        self._landing()
        rows = self._build_view()
        self.setup_ok = rows == self.expected["contributions_elastic"] == len(self.keys)
        self.log_path = os.path.join(self.out, "loaded_contributions")
        self.docs_path = os.path.join(self.out, "contribution_docs")
        self.loaded = 0
        for _ in range(WARMUP_BATCHES):
            self.setup_ok &= all(op.ok for op in self.cycle(traced=False))
        if self.tracer is not None:
            bulk = os.path.join(self.work, "bulk")
            with self._op("build", traced=True):
                counts = self._build(bulk)
            self.tracer.notes["build"].update(self._build_notes(bulk))
            self.setup_ok &= counts == self.expected
            shutil.rmtree(bulk)

    def _reset(self) -> None:
        shutil.rmtree(self.log_path, ignore_errors=True)
        shutil.rmtree(self.docs_path, ignore_errors=True)
        self.loaded = 0

    def _check(self, n: int) -> bool:
        """Read back with pyarrow, not the engine under test: the batch
        size, the log's keys (exactly the first ``loaded`` view keys in
        key order, none twice) and one doc per loaded key."""
        done = self.loaded
        logged = pq.read_table(self.log_path, columns=["sub_id"])["sub_id"].to_pylist()
        doc_ids = pq.read_table(self.docs_path, columns=["_id"])["_id"].to_pylist()
        return (
            n == min(BATCH_SIZE, len(self.keys) - (done - n))
            and sorted(logged) == self.keys[:done]
            and len(doc_ids) == len(set(doc_ids)) == done
        )

    def cycle(self, traced: bool) -> list[Op]:
        if len(self.keys) - self.loaded < BATCH_SIZE:
            self._reset()
        _, log_files_before = _dir_stats(self.log_path)
        op_id, ms, n = self._timed(
            "fec_incremental", traced,
            lambda: pipeline.run_incremental_docs(
                self.spark, self.out, batch_size=BATCH_SIZE, max_batches=1
            ),
        )
        self.loaded += n
        _, log_files = _dir_stats(self.log_path)
        notes = {"log_files": log_files - log_files_before}
        return [Op(op_id, "fec_incremental", ms, n, self.setup_ok and self._check(n), traced, notes)]


class QueryMix(_Workload):
    """One op = one inventory query planned, executed and its whole
    result fetched to the client as Arrow; a cycle runs every query
    once in a seed-fixed order. Set-up runs ``1 + WARMUP_CYCLES``
    untimed cycles: in a fresh JVM the first cycle takes about three
    times as long as a warm one, and the second is still up to about
    15 % slower than the ones after it."""

    sf = 0.02
    WARMUP_CYCLES = 1

    def setup(self) -> None:
        self.data = os.path.join(self.work, "tpch")
        counts = _in_child(tpchgen.land, self.seed, self.sf * self.scale, self.data)
        self.input_rows = {q: sum(counts[t] for t in ts) for q, ts in QUERY_MIX.items()}
        self.order = sorted(QUERY_MIX)
        random.Random(self.seed).shuffle(self.order)
        self.expected_rows, self.oracle_ok = self._oracle_check()

    def _oracle_check(self) -> tuple[dict[str, int], dict[str, bool]]:
        """Once per run, untimed: each query's Spark result of the first
        cycle, saved as Arrow, against its DuckDB ``ORACLE`` SQL (row
        count + order-insensitive hash). The DuckDB child runs while the
        warm-up cycles do; their row counts are checked too."""
        results = os.path.join(self.work, "results")
        os.makedirs(results)
        for q in self.order:
            feather.write_feather(
                self._run(q, traced=False), os.path.join(results, f"{q}.arrow"), compression="uncompressed"
            )
        child = _start_child(oracle.check, self.data, results, self.order)
        try:
            warm = [(q, self._run(q, traced=False).num_rows) for _ in range(self.WARMUP_CYCLES) for q in self.order]
            checked = _finish_child(child)
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
        shutil.rmtree(results)
        rows = {q: n for q, (_, n) in checked.items()}
        self.setup_ok = all(rows[q] == n for q, n in warm)
        return rows, {q: ok for q, (ok, _) in checked.items()}

    def _run(self, q: str, traced: bool):
        """Plan the query and fetch its whole result to the client as Arrow."""
        if not traced:
            return QUERIES[q](self.spark, self.data).toArrow()
        with self.tracer.span(f"queries.{q}.plan"):
            df = QUERIES[q](self.spark, self.data)
        with self.tracer.span(f"queries.{q}.exec"):
            return df.toArrow()

    def cycle(self, traced: bool) -> list[Op]:
        ops = []
        for q in self.order:
            op_id, ms, table = self._timed(q, traced, lambda q=q: self._run(q, traced))
            ok = self.oracle_ok[q] and table.num_rows == self.expected_rows[q]
            ops.append(Op(op_id, q, ms, self.input_rows[q], ok, traced))
        return ops


WORKLOADS = {"fec_bulk_elt": FecBulkElt, "fec_incremental": FecIncremental, "query_mix": QueryMix}
