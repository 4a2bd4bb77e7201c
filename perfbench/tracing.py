"""In-memory span tracer installed from outside the program.

``Tracer.install()`` swaps wrappers onto the module attributes through
which the program calls its public ``io``/``fec``/``graph``/``streaming``
functions (and onto the two pyspark boundaries the incremental loop
crosses without a public function: the parquet writer and the count that
materialises an anti-joined batch). Each span records name, start, end,
parent and op id, and runs under its own Spark job group so job and
task counts come from ``statusTracker()``; the rows the file scans of
the anti-joined batch output come from the SQL status store.
``uninstall()`` restores the originals; an untraced run never installs
anything.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

# (module, attribute, span name); classes are given as "module:Class".
_TARGETS = [
    ("data_spark.fec.pipeline", "run_bulk_import", "fec.run_bulk_import"),
    ("data_spark.fec.pipeline", "run_derivations", "fec.run_derivations"),
    ("data_spark.fec.pipeline", "run_incremental_docs", "fec.run_incremental_docs"),
    ("data_spark.fec.pipeline", "read_pipe_delimited", "io.read_pipe_delimited"),
    ("data_spark.fec.pipeline", "validated_overwrite", "io.validated_overwrite"),
    ("data_spark.fec.pipeline", "contribution_graph", "graph.contribution_graph"),
    ("data_spark.streaming.incremental", "load_unprocessed", "streaming.load_unprocessed"),
    ("data_spark.streaming.incremental:ProcessedLog", "append", "streaming.log_append"),
    ("data_spark.queries.common", "read_table", "io.read_table"),
] + [
    ("data_spark.fec.pipeline", fn, f"fec.{fn}")
    for fn in (
        "build_contributions_master", "build_expenditures_master", "build_pas_master",
        "contributions_elastic", "pas_elastic", "contribution_documents",
        "candidate_documents", "committee_documents", "linkage_documents",
    )
]

#: span names whose driver time is plan building (no Spark job runs in them)
PLAN_BUILDERS = {name for _, _, name in _TARGETS if name.startswith("fec.") and not name.startswith("fec.run_")}


def _seq(jseq) -> list:
    """A Scala ``Seq`` from py4j as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self._marked: set[int] = set()
        self.op = "setup"
        self.notes: dict[str, dict] = {}  # op id -> per-op counts

    # --- spans -------------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.span_id}", span.name, False)

    def start(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), parent, self.op, name, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.start(name, **attrs)
        try:
            yield span
        finally:
            self.end(span)

    # --- install / uninstall -----------------------------------------------
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            path = next((a for a in args if isinstance(a, str)), None)
            with tracer.span(name, **({"path": path} if path else {})):
                result = fn(*args, **kwargs)
            if name == "streaming.load_unprocessed" and isinstance(result, DataFrame):
                tracer._marked.add(id(result))
            return result

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for target, attr, name in _TARGETS:
            mod, _, cls = target.partition(":")
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls)
            self._patch(owner, attr, self._wrap(getattr(owner, attr), name))
        tracer = self
        parquet, count = DataFrameWriter.parquet, ClassicDataFrame.count

        @functools.wraps(parquet)
        def traced_parquet(writer, path, *args, **kwargs):
            doc = os.path.basename(os.path.normpath(path)) == "contribution_docs"
            with tracer.span("io.doc_append" if doc else "io.parquet_write", path=path):
                return parquet(writer, path, *args, **kwargs)

        @functools.wraps(count)
        def traced_count(df):
            if id(df) not in tracer._marked:
                return count(df)
            tracer._marked.discard(id(df))
            with tracer.span("streaming.load_unprocessed.exec"):
                return count(df)

        self._patch(DataFrameWriter, "parquet", traced_parquet)
        self._patch(ClassicDataFrame, "count", traced_count)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
        self._group(None)

    # --- JVM and Spark job/task counts -------------------------------------
    def jvm_ms(self) -> tuple[int, int]:
        """(JIT compile ms, GC ms) the driver JVM has spent so far."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return mf.getCompilationMXBean().getTotalCompilationTime(), gc

    def close_op(self, op_id: str) -> None:
        """Record the jobs and tasks run by ``op_id``'s spans (each job
        runs under the job group of the innermost open span) and the
        rows scanned under its ``streaming.load_unprocessed.exec``
        spans. Called after the op's timed window."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # status stores are fed by listeners
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for s in self.spans:
            if s.op != op_id:
                continue
            ids = st.getJobIdsForGroup(f"perfbench-{s.span_id}")
            for jid in ids:
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            if s.name == "streaming.load_unprocessed.exec":
                s.attrs["scan_rows"] = self._scan_rows(set(ids))
        self.notes.setdefault(op_id, {}).update(jobs=jobs, tasks=tasks)

    def _scan_rows(self, job_ids: set[int]) -> int:
        """Output rows of every ``Scan`` node (parquet files, RDDs; not
        cache reads) of the SQL executions that ran ``job_ids``."""
        store, total = self.sql_store, 0
        for e in _seq(store.executionsList()):
            if not job_ids & {int(j) for j in _seq(e.jobs().keys().toSeq())}:
                continue
            values = store.executionMetrics(e.executionId())
            for node in _seq(store.planGraph(e.executionId()).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                for m in _seq(node.metrics()):
                    value = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and value.isDefined():
                        total += int(value.get().replace(",", ""))
        return total

    # --- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)
