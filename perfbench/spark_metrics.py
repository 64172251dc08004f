"""Per-op Spark job and stage metrics from the in-process status store.

Every op runs under a job group the collector sets, so ``run_concurrently``
legs (``inheritable_thread_target``) and SQL broadcast threads carry it.
After the op, the jobs are found twice and the two answers must agree:

- by job group, through the status tracker;
- by job-id range, from the DAG scheduler's next-id counter, which is
  exact because one client thread submits everything.

Stage metrics come from ``statusStore().lastStageAttempt`` for every
non-skipped stage of those jobs. CPU time is the user + system time the
Python process and the driver JVM (which runs the local executors) spent
between ``begin`` and ``end``, less the JVM's JIT compiler and garbage
collector threads; unlike wall time, it leaves out the time the host gave
the CPUs to other tenants. Those background threads work on whatever the
JVM compiled or allocated before, as far as their share of the CPUs let
them get, so their time in an op measures warm-up progress and heap
history more than the op. The plan fingerprint counts exchanges,
broadcast exchanges and joins in the final (post-AQE) physical plans of
the SQL executions the op started.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

_NODE = re.compile(r"^[\s:|+-]*(?:\* )?([A-Za-z]+)")


@dataclass
class OpCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    input_b: int = 0
    output_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    cpu_s: float = 0.0
    codegen: int = 0  # classes Spark generated and compiled with Janino
    exchanges: int = 0
    broadcasts: int = 0
    joins: int = 0
    errors: list[str] = field(default_factory=list)

    def add(self, other: OpCounts) -> None:
        for name in (
            "jobs", "stages", "tasks", "executor_s", "input_b", "output_b",
            "shuffle_write_b", "spill_b", "cpu_s", "codegen", "exchanges", "broadcasts", "joins",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.errors.extend(other.errors)

    def signature(self) -> list[int]:
        """What must repeat exactly for the same op on the same input."""
        return [self.jobs, self.stages, self.exchanges, self.broadcasts, self.joins]


def plan_fingerprint(plan_text: str) -> tuple[int, int, int]:
    """(exchanges, broadcast exchanges, joins) in a formatted physical plan.

    Reads only the tree part (up to the first blank line) and skips every
    ``== Initial Plan ==`` subtree, so an adaptive plan counts once, as
    it finally ran."""
    exchanges = broadcasts = joins = 0
    skip_depth = None
    for line in plan_text.split("\n\n", 1)[0].splitlines()[1:]:
        depth = len(line) - len(line.lstrip(" :|+-"))
        if skip_depth is not None:
            if depth >= skip_depth:  # the subtree sits at the marker's depth
                continue
            skip_depth = None
        if "== Initial Plan ==" in line:
            skip_depth = depth
            continue
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            exchanges += 1
        elif node == "BroadcastExchange":
            broadcasts += 1
        elif node.endswith("Join") or node == "CartesianProduct":
            joins += 1
    return exchanges, broadcasts, joins


def _stat_ticks(path: str) -> int:
    """utime + stime, in clock ticks, of a /proc process or thread stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def background_kind(name: str) -> str | None:
    """``"jit"`` for a HotSpot JIT compiler thread, ``"gc"`` for a G1
    garbage-collector thread, else None (``comm`` names, cut to 15
    characters)."""
    if "CompilerThre" in name:
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return None


class BackgroundThreads:
    """CPU ticks of the JIT compiler and GC threads of JVM ``pid``.

    Threads are classified by name the first time they are seen. A thread
    that has exited keeps the ticks it had when last read; the JVM is run
    with ``-XX:-UseDynamicNumberOfCompilerThreads`` and
    ``-XX:-UseDynamicNumberOfGCThreads`` so that these threads start early
    and do not exit."""

    def __init__(self, pid: int):
        self._task = f"/proc/{pid}/task"
        self._kind: dict[str, str | None] = {}
        self._ticks: dict[str, int] = {}

    def ticks(self, kind: str | None = None) -> int:
        """Ticks of the threads of ``kind``, or of both kinds."""
        for tid in os.listdir(self._task):
            if tid not in self._kind:
                try:
                    with open(f"{self._task}/{tid}/comm") as fh:
                        self._kind[tid] = background_kind(fh.read().strip())
                except OSError:  # exited between listdir and open
                    continue
            if self._kind[tid] and kind in (None, self._kind[tid]):
                try:
                    self._ticks[tid] = _stat_ticks(f"{self._task}/{tid}/stat")
                except OSError:
                    pass
        if not any(self._kind[t] == "jit" for t in self._ticks):
            raise RuntimeError(f"no JIT compiler thread found under {self._task}")
        return sum(v for t, v in self._ticks.items() if kind in (None, self._kind[t]))

    def settle_jit(self, quiet_s: float = 0.5, cap_s: float = 20.0) -> float:
        """Wait until the JIT compiler threads have used no CPU for
        ``quiet_s`` (or ``cap_s`` have passed); returns the seconds waited.

        Code that ran before has then been compiled as far as its
        invocation counts asked, however small a CPU share the host gave
        the compilers, so an op timed next starts from the same warm-up
        state on a busy host as on an idle one."""
        t0 = quiet_from = time.perf_counter()
        last = self.ticks("jit")
        while True:
            time.sleep(0.05)
            now = time.perf_counter()
            cur = self.ticks("jit")
            if cur != last:
                last, quiet_from = cur, now
            elif now - quiet_from >= quiet_s or now - t0 >= cap_s:
                return now - t0


class StatusCollector:
    """Attributes Spark work to named ops of one client thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self._codegen0 = 0
        self._seq = 0
        self._group = None
        self._job0 = 0
        self._exec0 = 0
        jvm = int(spark._jvm.ProcessHandle.current().pid())
        self._jvm_stat = f"/proc/{jvm}/stat"
        self.background = BackgroundThreads(jvm)
        self._tick = os.sysconf("SC_CLK_TCK")
        self._cpu0 = 0.0

    def cpu_seconds(self) -> float:
        """User + system CPU seconds of this process and the driver JVM,
        less the JVM's JIT compiler and garbage-collector threads."""
        jvm = _stat_ticks(self._jvm_stat) - self.background.ticks()
        own = os.times()
        return own.user + own.system + jvm / self._tick

    def begin(self, label: str) -> None:
        self._seq += 1
        self._group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(self._group, label)
        self._drain()
        self._job0 = int(self._dag.nextJobId())
        self._exec0 = int(self._sql.executionsCount())
        self._codegen0 = int(self._compiles.getCount())
        self._cpu0 = self.cpu_seconds()

    def end(self) -> OpCounts:
        """Counts for the work since ``begin``; clears the job group."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self._drain()
        out = OpCounts(cpu_s=self.cpu_seconds() - self._cpu0,
                       codegen=int(self._compiles.getCount()) - self._codegen0)
        by_range = set(range(self._job0, int(self._dag.nextJobId())))
        by_group = {int(j) for j in self.sc.statusTracker().getJobIdsForGroup(self._group)}
        if by_range != by_group:
            out.errors.append(
                f"job attribution disagrees: group {sorted(by_group)} vs range {sorted(by_range)}"
            )
        stage_ids: set[int] = set()
        for job_id in sorted(by_range | by_group):
            job = self._store.job(job_id)
            out.jobs += 1
            out.tasks += int(job.numCompletedTasks())
            ids = str(job.stageIds().mkString(","))
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for stage_id in sorted(stage_ids):
            st = self._store.lastStageAttempt(stage_id)
            if st.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            out.executor_s += int(st.executorRunTime()) / 1000.0
            out.input_b += int(st.inputBytes())
            out.output_b += int(st.outputBytes())
            out.shuffle_write_b += int(st.shuffleWriteBytes())
            out.spill_b += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        n_exec = int(self._sql.executionsCount()) - self._exec0
        if n_exec > 0:
            execs = self._sql.executionsList(self._exec0, n_exec)
            for i in range(execs.size()):
                ex, bc, jn = plan_fingerprint(str(execs.apply(i).physicalPlanDescription()))
                out.exchanges += ex
                out.broadcasts += bc
                out.joins += jn
        return out

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)
