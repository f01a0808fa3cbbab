"""The closed loop shared by every workload, and the metrics it reports.

One client runs a workload's ops back to back: each op's inputs are
prepared, the op is timed, and its output is checked outside the timed
region.  Ops come in seeded cycles that hold every op shape in fixed
proportion; the loop runs whole cycles until ``--seconds`` of op time
have passed, so a run's mix does not depend on where the clock stops.
Every cycle takes longer than the benchmark's run_seconds, so a run
is one cycle unless the program gets faster.

With tracing on, at least two cycles run and the ops of each shape are
traced in the order traced, untraced, untraced, traced, ... so that,
for shapes with four or more ops in a run, warm-up drift cancels
rather than counting as tracing cost.
Traced ops record spans (in the op, and in the probe that follows it,
where a workload times a layer on its own), Spark job counts and the
workload's own counters; their latency against the untraced ops of
the same shape is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench.tracing import Tracer, percentile, self_times, tail_percentile

# metric name -> unit, as BENCHMARK.json declares them
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as _f:
    _DECLARED = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}

# span name -> per-layer metric (mean self time per op that has the span)
SPAN_METRICS = {
    "session.start": "session.start_s",
    "sources.bind": "sources.bind_s",
    "normalize.render": "normalize.render_s",
    "sinks.copy_pg.write": "sinks.copy_pg.write_s",
    "sinks.pg_wire.copy": "sinks.pg_wire.copy_s",
    "sql.analyze": "sql.analyze_s",
    "sql.execute": "sql.execute_s",
    "operators.text.gopher": "operators.text.gopher_s",
    "operators.dedup.candidates": "operators.dedup.candidates_s",
    "operators.dedup.components": "operators.dedup.components_s",
    "operators.simsearch.topk": "operators.simsearch.topk_s",
}


class Workload:
    """One workload: seeded op cycles, the timed op, and its check.

    ``run`` returns (source rows the op finished, output); ``check``
    raises when the output is wrong.  The counter and probe hooks run
    for traced ops only, outside the timed region.  ``unsampled`` names
    the benchmark's own helper processes (checkers) that the memory
    peak leaves out."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed

    def setup(self) -> None: ...
    def cycle(self, n: int) -> list: ...
    def shape(self, spec) -> str: ...
    def prepare(self, spec): return None
    def run(self, spec, prepared) -> tuple[int, object]: ...
    def check(self, spec, prepared, out) -> None: ...
    def recover(self, spec) -> None: ...
    def counters_begin(self): return None
    def counters_end(self, before) -> dict: return {}
    def probe(self, spec, prepared, out) -> dict: return {}
    def unsampled(self) -> set[int]: return set()
    def close(self) -> None: ...


@dataclass
class OpRecord:
    id: int
    shape: str
    latency: float
    rows: int
    traced: bool
    error: str | None = None
    counters: dict = field(default_factory=dict)


def process_tree(root: int, skip: set[int] = frozenset()) -> set[int]:
    """``root`` and every process descended from it, from /proc,
    leaving out the processes in ``skip`` and their descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = set(), [root]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier.extend(
            p for p, pp in parent.items() if pp == pid and p not in tree and p not in skip
        )
    return tree


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    Spark's Python workers), sampled from /proc while ``active`` is set
    (while an op runs), leaving out the process subtrees in ``skip``."""

    def __init__(self, skip: set[int]):
        self.skip = skip
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(RSS_INTERVAL_S):
                self.peak = max(self.peak, self.sample())
                self._stop.wait(RSS_INTERVAL_S)

    def sample(self) -> int:
        total = 0
        for pid in process_tree(os.getpid(), self.skip):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total


class SparkCounters:
    """Jobs, executed stages and tasks of one op, from the status
    tracker, for a job group set around the op."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.group = None

    def begin(self, op: int) -> None:
        self.group = f"perfbench-op-{op}"
        self.sc.setJobGroup(self.group, self.group)

    def end(self) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.tracker.getJobIdsForGroup(self.group)
        stages = tasks = failed = 0
        for job in jobs:
            info = self.tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"spark.jobs": len(jobs), "spark.stages": stages,
                "spark.tasks": tasks, "spark.failed_tasks": failed}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks so far; steal is time a hypervisor gave
    this machine's CPUs to someone else, which inflates every timing."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run_loop(
    wl, spark, tracer: Tracer, seconds: float, trace: bool, rss: RssSampler | None = None
) -> list[OpRecord]:
    counters = SparkCounters(spark.sparkContext)
    ops: list[OpRecord] = []
    seen: dict[str, int] = {}
    timed, cycle = 0.0, 0
    while True:
        for spec in wl.cycle(cycle):
            shape = wl.shape(spec)
            seen[shape] = seen.get(shape, 0) + 1
            traced = trace and seen[shape] % 4 in (0, 1)
            rec = OpRecord(len(ops), shape, 0.0, 0, traced)
            prepared = wl.prepare(spec)
            tracer.enabled, tracer.op = traced, rec.id
            if traced:
                before = wl.counters_begin()
                counters.begin(rec.id)
            if rss is not None:
                rss.active.set()
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    rows, out = wl.run(spec, prepared)
            except Exception as exc:  # the loop must go on; the op counts as failed
                rec.error = f"{type(exc).__name__}: {exc}"
            rec.latency = time.perf_counter() - t0
            if rss is not None:
                rss.active.clear()
            tracer.enabled = False
            if traced:
                rec.counters.update(counters.end())
                rec.counters.update(wl.counters_end(before))
            if rec.error is None:
                try:
                    wl.check(spec, prepared, out)
                    rec.rows = rows
                except Exception as exc:  # a wrong output counts as a failed op
                    rec.error = f"wrong output: {type(exc).__name__}: {exc}"
            if rec.error is not None:
                print(f"perfbench: op {rec.id} ({rec.shape}) failed: {rec.error}", file=sys.stderr)
                wl.recover(spec)
            elif traced:
                tracer.enabled = True
                rec.counters.update(wl.probe(spec, prepared, out))
                tracer.enabled = False
            ops.append(rec)
            timed += rec.latency
        cycle += 1
        if timed >= seconds and cycle >= (2 if trace else 1):
            return ops


def end_to_end(ops: list[OpRecord], setup_s: float) -> dict[str, float]:
    lat = [o.latency for o in ops]
    ok = [o for o in ops if o.error is None]
    return {
        "setup_s": setup_s,
        "rows_per_s": sum(o.rows for o in ok) / sum(lat),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "success_ratio": len(ok) / len(ops),
    }


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(ops: list[OpRecord], tracer: Tracer, peak_rss: int) -> dict[str, float]:
    """Every PER_LAYER metric; layers a workload never calls read 0."""
    own = self_times(tracer.spans)
    by_name: dict[str, dict] = {}
    for s in tracer.spans:
        per_op = by_name.setdefault(s.name, {})
        per_op[s.op] = per_op.get(s.op, 0.0) + own[s.id]
    out = {m: 0.0 for m in PER_LAYER}
    for name, metric in SPAN_METRICS.items():
        if name in by_name:
            out[metric] = statistics.fmean(by_name[name].values())
    traced = [o for o in ops if o.traced]
    tot: dict[str, float] = {}
    has: dict[str, int] = {}
    for o in traced:
        for k, v in o.counters.items():
            tot[k] = tot.get(k, 0.0) + v
            has[k] = has.get(k, 0) + 1
    n = len(traced)
    pg_rows = sum(o.rows for o in traced if "pg.commits" in o.counters)
    out["spark.jobs_per_op"] = _ratio(tot.get("spark.jobs", 0), n)
    out["spark.stages_per_op"] = _ratio(tot.get("spark.stages", 0), n)
    out["spark.tasks_per_op"] = _ratio(tot.get("spark.tasks", 0), n)
    out["spark.failed_tasks"] = tot.get("spark.failed_tasks", 0.0)
    out["normalize.bytes_per_row"] = _ratio(tot.get("copy_bytes", 0), tot.get("copy_rows", 0))
    out["sinks.copy_pg.rows_per_txn"] = _ratio(pg_rows, tot.get("pg.commits", 0))
    out["sinks.pg_wire.mb_per_s"] = _ratio(tot.get("copy_bytes", 0) / 2**20, tot.get("wire_s", 0))
    out["pg.wal_bytes_per_user_byte"] = _ratio(tot.get("pg.wal_bytes", 0), tot.get("copy_bytes", 0))
    out["pg.xact_commits"] = _ratio(tot.get("pg.commits", 0), has.get("pg.commits", 0))
    out["operators.dedup.candidate_pairs"] = _ratio(tot.get("candidates", 0), has.get("candidates", 0))
    out["operators.dedup.pair_precision"] = _ratio(tot.get("verified", 0), tot.get("candidates", 0))
    out["operators.simsearch.recall_at_k"] = _ratio(tot.get("recall", 0), has.get("recall", 0))
    out["memory.peak_rss_mb"] = peak_rss / 2**20
    out["trace.overhead_pct"] = overhead_pct(ops)
    return out


def overhead_pct(ops: list[OpRecord]) -> float:
    """Traced against untraced latency: per op shape, the ratio of the
    summed median latencies, over shapes seen both ways."""
    med: dict[tuple[str, bool], float] = {}
    for shape in {o.shape for o in ops}:
        for traced in (True, False):
            lat = [o.latency for o in ops if o.shape == shape and o.traced == traced]
            if lat:
                med[shape, traced] = statistics.median(lat)
    shapes = [s for s in {o.shape for o in ops} if (s, True) in med and (s, False) in med]
    if not shapes:
        return 0.0
    return 100.0 * (sum(med[s, True] for s in shapes) / sum(med[s, False] for s in shapes) - 1)


def summary_lines(ops: list[OpRecord], metrics: dict[str, float], units: dict[str, str]) -> list[str]:
    lat = [o.latency for o in ops]
    lines = [f"{k} = {v:.6g} {units[k]}" for k, v in metrics.items()]
    tail = tail_percentile(lat)
    lines.append(
        f"ops = {len(ops)} (latency sample count); "
        + (f"highest percentile with >=10 samples beyond: p{tail[0]:.1f} = {tail[1]:.6g} s"
           if tail else "too few ops for a percentile with 10 samples beyond it")
    )
    for shape in sorted({o.shape for o in ops}):
        sl = [o.latency for o in ops if o.shape == shape]
        lines.append(f"  {shape}: ops={len(sl)} median={statistics.median(sl):.4f} s")
    lines.append("op latencies (s, in order): " + " ".join(f"{o.latency:.3f}" for o in ops))
    return lines
