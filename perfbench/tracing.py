"""Per-layer tracing, built from outside the engine.

Nothing here changes engine code: layer boundaries are public functions
that ``Tracer.wrap`` replaces with a timed wrapper for the traced
operations only, and the counters come from Spark's own bookkeeping:

- py4j round trips: a counting wrapper on the gateway client's
  ``send_command``;
- jobs and stages: the DAG scheduler's id counters, read before and after
  each span (ids are allocated in order, and operations run one at a time);
- Catalyst phases and action time: a ``QueryExecutionListener`` that reads
  each action's ``QueryPlanningTracker``;
- shuffle, spill and Python-worker figures: the SQL metrics that the
  shared status store keeps for each execution (the Spark UI stays off);
- route decisions: whether each routing call (``star_layout.maybe_*``,
  ``layout_catalog.route_source``) returned a derived relation.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NODE = re.compile(r'label="<(?:br><)?b>([^<]+)</b><br><br>([^"]*)"')
_VALUE = re.compile(r"^(?:total \(min, med, max[^\n]*\n)?([\d.,]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
#: SQL metrics summed over every plan node of an operation's executions.
SQL_METRICS = {
    "shuffle_bytes": "shuffle bytes written",
    "spill_bytes": "spill size",
    "python_s": "time to run Python workers",
    "python_sent_bytes": "data sent to Python workers",
}


def sql_metric_totals(dot: str) -> dict[str, float]:
    """Sum the metrics of ``SQL_METRICS`` over one execution's plan graph,
    given as the DOT text ``SparkPlanGraph.makeDotFile`` renders."""
    out = dict.fromkeys(SQL_METRICS, 0.0)
    for _node, body in _NODE.findall(dot):
        for item in body.split("<br>"):
            name, _, value = item.partition(": ")
            for key, metric in SQL_METRICS.items():
                if name == metric:
                    m = _VALUE.match(value.replace("\\n", "\n"))
                    if m:
                        out[key] += float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    return out


class _ActionListener:
    """Receives every action's QueryExecution on the listener bus."""

    def __init__(self, tracer: "Tracer") -> None:
        self.tracer = tracer
        self.events: list[tuple[str, float, dict[str, float]]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.tracer._local.internal = True
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000.0
        self.events.append((func_name, duration_ns / 1e9, phases))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append((func_name, 0.0, {}))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "thread", "attrs")

    def __init__(self, sid, name, op, parent, thread):
        self.sid, self.name, self.op, self.parent, self.thread = sid, name, op, parent, thread
        self.start = time.perf_counter()
        self.end = None
        self.attrs: dict = {}

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.sid, "name": self.name, "op": self.op, "parent": self.parent,
            "start": round(self.start - t0, 6), "end": round(self.end - t0, 6),
            "thread": self.thread, **self.attrs,
        }


class Tracer:
    """Spans and counters for the operations run between ``install`` and
    ``uninstall``. One operation runs at a time; inside it, spans may come
    from several threads (the DAG runner's pool)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._sched = self._jsc.dagScheduler()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._listener = _ActionListener(self)
        self._patches: list[tuple[object, str, object, object]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.py4j_calls = 0
        self.spans: list[Span] = []
        self.t0 = time.perf_counter()
        self.op_id: str | None = None
        self._root: int | None = None
        self._seen_exec = -1
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)

    # -- hooks ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, hit=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` while installed. ``hit(result)``, when given,
        marks the span as a route decision and says whether it routed."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if hit is not None:
                    sp.attrs["route_hit"] = bool(hit(result))
                return result

        traced.__wrapped__ = orig
        self._patches.append((owner, attr, orig, traced))

    def install(self) -> None:
        def counting(*args, **kwargs):
            if not getattr(self._local, "internal", False):
                with self._lock:
                    self.py4j_calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counting
        for owner, attr, _orig, traced in self._patches:
            setattr(owner, attr, traced)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def uninstall(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)
        for owner, attr, orig, _traced in self._patches:
            setattr(owner, attr, orig)
        self._client.send_command = self._send

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a worker thread of the DAG runner has no open span: its spans
        # hang off the operation's root
        parent = stack[-1].sid if stack else self._root
        with self._lock:
            sp = Span(len(self.spans), name, self.op_id, parent, threading.get_ident())
            self.spans.append(sp)
        sp.attrs["py4j0"] = self.py4j_calls
        sp.attrs["job0"] = self._uncounted(self._sched.nextJobId)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.attrs["jobs"] = self._uncounted(self._sched.nextJobId) - sp.attrs.pop("job0")
            sp.attrs["py4j"] = self.py4j_calls - sp.attrs.pop("py4j0")
            sp.end = time.perf_counter()

    def _uncounted(self, call):
        """Make the tracer's own py4j round trip without counting it."""
        self._local.internal = True
        try:
            return call()
        finally:
            self._local.internal = False

    # -- one operation ----------------------------------------------------
    @contextmanager
    def op(self, op_id: str):
        """Trace one operation; yields a dict that holds its counters once
        the block has ended."""
        self.op_id = op_id
        counters: dict[str, float] = {}
        job0 = self._uncounted(self._sched.nextJobId)
        stage0 = self._uncounted(self._sched.nextStageId)
        self._seen_exec = self._uncounted(self._last_execution_id)
        del self._listener.events[:]
        with self.span("op") as root:
            self._root = root.sid
            yield counters
        self._root = None
        self._jsc.listenerBus().waitUntilEmpty()
        counters["wall_s"] = root.end - root.start
        counters["py4j_calls"] = root.attrs["py4j"]
        counters["jobs"] = self._sched.nextJobId() - job0
        counters["stages"] = self._sched.nextStageId() - stage0
        counters["plan_s"] = sum(sum(ph.values()) for _n, _d, ph in self._listener.events)
        counters["actions"] = len(self._listener.events)
        counters["action_list"] = list(self._listener.events)
        counters.update(self._sql_metrics())
        self.op_id = None

    def _last_execution_id(self) -> int:
        lst = self._sql_store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def _sql_metrics(self) -> dict[str, float]:
        """SQL metrics of the executions the operation started, and
        ``exec_s``: the summed wall of its root executions (a command's
        nested executions run inside their root's interval)."""
        totals = dict.fromkeys(SQL_METRICS, 0.0)
        totals["exec_s"] = 0.0
        for eid in range(self._seen_exec + 1, self._last_execution_id() + 1):
            try:
                ex = self._sql_store.execution(eid).get()
                if ex.rootExecutionId() == eid and ex.completionTime().isDefined():
                    end_ms = ex.completionTime().get().getTime()
                    totals["exec_s"] += (end_ms - ex.submissionTime()) / 1000.0
                dot = self._sql_store.planGraph(eid).makeDotFile(
                    self._sql_store.executionMetrics(eid)
                )
            except Exception:  # evicted from the store; counted as absent
                continue
            for k, v in sql_metric_totals(dot).items():
                totals[k] += v
        return totals

    # -- reporting --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Each span name's self time: its duration minus the part its
        child spans cover, summed over all spans of that name."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.end is not None:
                own = (sp.end - sp.start) - child.get(sp.sid, 0.0)
                out[sp.name] = out.get(sp.name, 0.0) + max(own, 0.0)
        return out

    def dump(self) -> list[dict]:
        return [sp.as_dict(self.t0) for sp in self.spans if sp.end is not None]
