"""Per-job-group Spark counters read from the driver's status stores.

Each measured call runs under its own job group.  Afterwards
:meth:`Counters.read` collects the group's jobs from the status tracker and
reads, from the core and SQL status stores:

* jobs, shuffle bytes written, spill (memory + disk) per stage;
* rows into and out of every SQL plan node, summed by node name (rows in
  are the rows out of the node's children in the plan graph); a
  ``MapInPandas`` node is named with its function, ``MapInPandas[refine]``;
* bytes sent to and received from Python workers (Arrow/pandas nodes).

Both stores are filled by an asynchronous listener, so a job or SQL
execution can look unfinished for a moment after the action that ran it
has returned.  ``read`` waits until every job and execution of the group
carries its completion time before it reads any number.
"""

from __future__ import annotations

import contextlib
import re
import time

_PY_UDF = re.compile(r"^MapInPandas (\w+)\(")
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_MB = 1 << 20


def parse_metric(value: str, metric_type: str) -> float:
    """Total of a formatted SQL metric: ``'1,234'``, ``'12.5 MiB'``, or the
    multi-line ``'total (min, med, max ...)\\n4.8 s (...)'`` form."""
    first = value.split("\n")[-1].split(" (")[0].strip() if "\n" in value else value.strip()
    if metric_type == "size":
        num, unit = first.split(" ")
        return float(num.replace(",", "")) * _SIZE_UNITS[unit]
    if metric_type in ("timing", "nsTiming"):
        m = re.match(r"([\d.,]+)\s*(ms|s|m|h|ns)?", first)
        num = float(m.group(1).replace(",", ""))
        scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}[m.group(2) or "ms"]
        return num * scale
    return float(first.replace(",", ""))


@dataclass
class GroupCounters:
    """Counters of one job group."""

    jobs: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_sent_bytes: float = 0.0
    python_recv_bytes: float = 0.0
    node_rows: dict = field(default_factory=dict)  # SQL node name -> rows out
    node_rows_in: dict = field(default_factory=dict)  # SQL node name -> rows in
    files_read: int = 0  # files opened by scan nodes

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_bytes / _MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / _MB

    @property
    def arrow_mb(self) -> float:
        return (self.python_sent_bytes + self.python_recv_bytes) / _MB

    def add(self, other: "GroupCounters") -> None:
        self.jobs += other.jobs
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes
        self.python_sent_bytes += other.python_sent_bytes
        self.python_recv_bytes += other.python_recv_bytes
        self.files_read += other.files_read
        for mine, theirs in ((self.node_rows, other.node_rows),
                             (self.node_rows_in, other.node_rows_in)):
            for k, v in theirs.items():
                mine[k] = mine.get(k, 0) + v


class Counters:
    """Runs calls under job groups and reads their counters."""

    def __init__(self, spark, timeout_s: float = 10.0):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.timeout_s = timeout_s
        self._n = 0
        self._exec_offset: dict[str, int] = {}

    @contextlib.contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields the group id."""
        self._n += 1
        gid = f"{label}#{self._n}"
        # executions that exist before the group starts cannot belong to it
        self._exec_offset[gid] = int(self.sql_store.executionsCount())
        self.sc.setJobGroup(gid, label, False)
        try:
            yield gid
        finally:
            self.sc._jsc.clearJobGroup()

    def _wait_jobs(self, job_ids: list[int]) -> list:
        deadline = time.monotonic() + self.timeout_s
        while True:
            datas = [self.store.job(j) for j in job_ids]
            if all(d.completionTime().isDefined() for d in datas):
                return datas
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs {job_ids} not completed in the status store")
            time.sleep(0.01)

    def _executions(self, job_ids: set[int], offset: int) -> list:
        """SQL executions that ran any of ``job_ids``, once completed."""
        deadline = time.monotonic() + self.timeout_s
        while True:
            found, pending = [], False
            it = self.sql_store.executionsList(offset, 1 << 20).iterator()
            while it.hasNext():
                e = it.next()
                jit = e.jobs().keys().iterator()
                ids = set()
                while jit.hasNext():
                    ids.add(int(jit.next()))
                if ids & job_ids:
                    found.append(e)
                    pending |= not e.completionTime().isDefined()
            if not pending:
                return found
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions not completed in the status store")
            time.sleep(0.01)

    def read(self, gid: str, sql: bool = True) -> GroupCounters:
        """Counters of group ``gid``; ``sql=False`` skips the per-node SQL
        metrics (rows, Python bytes), which cost a driver round trip per
        plan node."""
        out = GroupCounters()
        job_ids = [int(j) for j in self.sc.statusTracker().getJobIdsForGroup(gid)]
        if not job_ids:
            return out
        out.jobs = len(job_ids)
        seen_stages = set()
        for jd in self._wait_jobs(job_ids):
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # a skipped stage may never get an attempt
                    continue
                out.shuffle_bytes += int(sd.shuffleWriteBytes())
                out.spill_bytes += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        if sql:
            for e in self._executions(set(job_ids), self._exec_offset[gid]):
                self._add_sql(out, e.executionId())
        return out

    def _add_sql(self, out: GroupCounters, eid: int) -> None:
        vals = self.sql_store.executionMetrics(eid)
        graph = self.sql_store.planGraph(eid)
        # a cached plan appears once under every scan of its cache, with the
        # same accumulators: count each accumulator once
        seen: set[int] = set()
        names, rows_out = {}, {}
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            nid, name = int(node.id()), node.name()
            udf = _PY_UDF.match(node.desc())
            if udf:  # several pandas stages in one plan: key each by its function
                name = f"{name}[{udf.group(1)}]"
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                acc = int(m.accumulatorId())
                v = vals.get(acc)
                if acc in seen or not v.isDefined():
                    continue
                seen.add(acc)
                mname, mtype = m.name(), m.metricType()
                if mname == "number of output rows":
                    names[nid] = name
                    rows_out[nid] = int(parse_metric(v.get(), mtype))
                    out.node_rows[name] = out.node_rows.get(name, 0) + rows_out[nid]
                elif mname == "data sent to Python workers":
                    out.python_sent_bytes += parse_metric(v.get(), mtype)
                elif mname == "data returned from Python workers":
                    out.python_recv_bytes += parse_metric(v.get(), mtype)
                elif mname == "number of files read":
                    out.files_read += int(parse_metric(v.get(), mtype))
        kids: dict[int, list[int]] = {}
        edges = graph.edges().iterator()
        while edges.hasNext():
            e = edges.next()  # child (fromId) feeds parent (toId)
            kids.setdefault(int(e.toId()), []).append(int(e.fromId()))

        def rows_into(nid: int) -> int:
            # a child without a row metric (Project, a shuffle read) passes
            # its own input through unchanged
            return sum(rows_out[c] if c in rows_out else rows_into(c) for c in kids.get(nid, []))

        for nid, name in names.items():
            out.node_rows_in[name] = out.node_rows_in.get(name, 0) + rows_into(nid)
