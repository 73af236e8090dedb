"""Read-only probes: the process tree in ``/proc``, physical plans and the
driver JVM's status stores (UI off, nothing over the network)."""

from __future__ import annotations

import os
import re
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree (reaped children stay
    counted in their parent's c-times)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def host_cpu_s() -> dict[str, float]:
    """Whole-host CPU seconds by state from ``/proc/stat``: co-tenant load
    shows as ``steal``, disk waits as ``iowait``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / _CLK for n, v in zip(names, fields)}


class RssPeak:
    """Samples the tree's summed RSS every ``interval`` seconds until stopped."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._halt.wait(self.interval):
                return

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._halt.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# -- physical plan ----------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


_FILE_SCAN = re.compile(r"\bFileScan\b")
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ShuffleExchange)\b")
_PY_STAGE = re.compile(r"\bMapInPandas\b")
_BALANCE = re.compile(r"Exchange hashpartitioning\(doc_id#\d+, offset#\d+")


def plan_counts(df) -> dict:
    """Node counts of ``df``'s physical plan before it runs (AQE's initial
    plan, so the counts repeat exactly)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "scan.file_scans": len(_FILE_SCAN.findall(plan)),
        "pipeline.exchanges": len(_EXCHANGE.findall(plan)),
        "pipeline.python_stages": len(_PY_STAGE.findall(plan)),
        "balance_fired": bool(_BALANCE.search(plan)),
    }


def scanned_file_bytes(df) -> tuple[int, int]:
    """FileScan nodes of ``df``'s executed plan, and the exact bytes of the
    files they read (their "size of files read" metric), once ``df`` has
    run.  Walks into the adaptive plan's final stages."""
    todo = [df._jdf.queryExecution().executedPlan()]
    scans = size = 0
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            scans += 1
            metric = node.metrics().get("filesSize")
            if metric.isDefined():
                size += metric.get().value()
        todo.extend(_seq(node.children()))
    return scans, size


# -- status stores ----------------------------------------------------------


def _settle(spark) -> None:
    """Wait until the listener bus has delivered every event to the stores."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def last_stage_id(spark) -> int:
    _settle(spark)
    stages = _stage_list(spark)
    return max((s.stageId() for s in stages), default=-1)


def _stage_list(spark) -> list:
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
    return _seq(store.stageList(None, False, False, empty, jvm.java.util.ArrayList()))


def stage_metrics(spark, after_stage: int) -> list[dict]:
    """Completed stages with id > ``after_stage``: bytes moved and the
    max/median task run time (the straggler ratio)."""
    _settle(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    qs = spark.sparkContext._gateway.new_array(spark.sparkContext._jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = []
    for s in _stage_list(spark):
        if s.stageId() <= after_stage or str(s.status()) != "COMPLETE":
            continue
        summary = store.taskSummary(s.stageId(), s.attemptId(), qs)
        p50 = mx = 0.0
        if summary.isDefined():
            run = summary.get().executorRunTime()
            p50, mx = float(run.apply(0)), float(run.apply(1))
        out.append(
            {
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "task_ms_p50": p50,
                "task_ms_max": mx,
            }
        )
    return sorted(out, key=lambda r: r["stage"])


def last_execution_id(spark) -> int:
    _settle(spark)
    execs = _seq(spark._jsparkSession.sharedState().statusStore().executionsList())
    return max((e.executionId() for e in execs), default=-1)


def executed_scans(spark, after_execution: int) -> int:
    """Parquet scan nodes over the SQL executions with id > ``after_execution``."""
    _settle(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    scans = 0
    for e in _seq(store.executionsList()):
        if e.executionId() > after_execution:
            nodes = _seq(store.planGraph(e.executionId()).allNodes())
            scans += sum(1 for node in nodes if node.name().startswith("Scan parquet"))
    return scans
