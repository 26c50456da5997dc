"""Session lifecycle, spans, the closed pass loop and metric assembly.

One benchmark process drives one Spark session (``local[nproc]``) as a
single client: passes run back to back, each starting only when the
previous one has been verified.  Untraced runs time whole passes; the
traced run alternates untraced and traced passes, wraps every library
call in a span, tags the call's Spark jobs with a job group named after
the span, and afterwards reads stage and SQL-node metrics from Spark's
local status API to split each pass by layer.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import threading
import time
import traceback
import urllib.request
from contextlib import contextmanager

MB = float(1 << 20)
TAIL_MIN_BEYOND = 10
# the library layers' self times must explain the untraced pass to this
# share; the rest is the benchmark's own verification and glue
RECONCILE_TOLERANCE = 0.15
# Spark job time (the status API's clock) may lie outside the self time
# of the span it is attributed to for at most this share of a pass
JOB_OUTSIDE_TOLERANCE = 0.05


# ------------------------------------------------------------------- host
def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: an eighth of the host's memory, within [1, 4] GiB."""
    return int(min(4096, max(1024, mem_total_bytes() / MB / 8)))


def process_start_epoch() -> float:
    """Wall-clock start time of this process, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_stamp(root: str, seed: int) -> dict:
    """Everything a record needs so that records from different hosts or
    core counts are never compared by mistake."""
    import pyspark

    try:
        sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        git_sha = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        git_sha = None
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_total_bytes() / MB),
        "heap_mb": heap_mb(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "git_sha": git_sha,
        "seed": seed,
    }


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory span recorder.  Disabled, every method is a no-op, so
    traced and untraced passes run the same workload code."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id, "layer": layer, "name": name,
               "start": time.time(), "end": None, "attrs": attrs,
               "cached_before": _cached_bytes(self.sc)}
        self.spans.append(rec)
        self._stack.append(sid)
        main = threading.current_thread() is threading.main_thread()
        if main:
            self.sc.setJobGroup(f"span-{sid}", f"{layer}:{name}")
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            rec["cached_after"] = _cached_bytes(self.sc)
            self._stack.pop()
            if main:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(f"span-{parent}",
                                        f"{p['layer']}:{p['name']}")


def _cached_bytes(sc) -> int:
    return sum(r.memSize() + r.diskSize()
               for r in sc._jsc.sc().getRDDStorageInfo())


def _children(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return kids


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals."""
    kids = _children(spans)
    return {s["id"]: (s["end"] - s["start"])
            - _covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` within [lo, hi]."""
    return _overlap(_merge(intervals), [(lo, hi)])


def _merge(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _overlap(xs, ys) -> float:
    """Length of the intersection of two merged interval lists."""
    total, i, j = 0.0, 0, 0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        total += max(0.0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def job_outside_s(spans: list[dict], work: dict[int, dict]) -> float:
    """Seconds of Spark job wall time, on Spark's own clock, that fall
    outside the self time of the span each job is attributed to: while
    one of its child spans ran, or before or after the span itself.
    Zero when every job ran inside its span and no child's."""
    kids = _children(spans)
    total = 0.0
    for s in spans:
        jobs = _merge(work.get(s["id"], {}).get("job_intervals", []))
        if not jobs:
            continue
        inside = _overlap(jobs, [(s["start"], s["end"])])
        in_kids = _overlap(jobs, _merge(kids.get(s["id"], [])))
        total += sum(b - a for a, b in jobs) - inside + in_kids
    return total


def check_tree(spans: list[dict]) -> None:
    """Raise unless spans form well-parented trees, one per pass."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            raise ValueError(f"span {s['id']} is not closed")
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None or p["pass"] != s["pass"]:
            raise ValueError(f"span {s['id']} has a foreign parent")
        if s["start"] < p["start"] or s["end"] > p["end"]:
            raise ValueError(f"span {s['id']} escapes its parent")
    roots = [s for s in spans if s["parent"] is None]
    if len({s["pass"] for s in roots}) != len(roots):
        raise ValueError("a pass has more than one root span")


# ---------------------------------------------------------------- session
class Session:
    """Starts Spark with the benchmark's fixed recipe and stops it, the
    JVM and its Python workers included, before the process exits."""

    def __init__(self, work: str, cpus: int):
        from pyspark.sql import SparkSession

        tmp = os.path.join(work, "tmp")
        # the engine settings are bench.py's (default JIT, AQE, codegen
        # cache), except one shuffle partition per core: bench.py's four
        # per core quadruple the state-store commits of every stream
        # trigger (60 of 90 s per pass went to commits on 4 cores)
        self.spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("bertrand-benchmark")
            .config("spark.driver.memory", f"{heap_mb()}m")
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.codegen.cache.maxEntries", "5000")
            .config("spark.cleaner.periodicGC.interval", "30s")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.port", "0")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100000")
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from bertrand_spark.session import tune_session

        tune_session(self.spark)
        self.sc = self.spark.sparkContext
        self.jvm_pid = _jvm_pid()

    def java_version(self) -> str:
        return self.sc._jvm.java.lang.System.getProperty("java.version")

    def persisted_rdds(self) -> list[str]:
        """Id and name (for a cached frame, the head of its plan) of
        every RDD still marked persisted."""
        return sorted(f"{r.id()}: " + " ".join((r.name() or r.toString())
                                               .split())[:160]
                      for r in self.sc._jsc.getPersistentRDDs().values())

    def release(self) -> None:
        """Drop whatever a pass left cached, so every pass starts alike."""
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def rss_mb(self) -> float:
        """Peak resident memory of the JVM plus its Python workers."""
        total = _vm_hwm(self.jvm_pid)
        for pid in _descendants(self.jvm_pid):
            if "pyspark" in _cmdline(pid):
                total += _vm_hwm(pid)
        return total / 1024.0

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while _descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _vm_hwm(pid: int) -> int:
    """Peak resident set of ``pid`` in KiB (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid() -> int:
    for pid in _descendants(os.getpid()):
        if "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid):
            return pid
    raise RuntimeError("Spark JVM not found among this process's children")


# ------------------------------------------------------------- pass loop
def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least
    ten samples beyond it, or the median when that percentile is lower."""
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_MIN_BEYOND - 1  # index with ten samples above it
    if k < n // 2:
        return statistics.median(xs), 50.0, n
    return xs[k], round(100.0 * (k + 1) / n, 2), n


def measure(session: Session, workload, seconds: float, traced: bool,
            deadline: float = float("inf")) -> dict:
    """Run passes back to back for ``seconds``; in traced mode every
    second pass is traced, starting with the second, and the run ends on
    an untraced pass, so that untraced passes flank every traced one and
    the warm-up trend does not bias the tracing overhead.  A pass after
    the first traced one starts only if one more pass of the last
    pass's length ends before ``deadline`` (a ``time.perf_counter``
    value).  Returns per-pass records and the tracer."""
    tracer = Tracer(session.sc)
    passes = []
    t_end = time.perf_counter() + seconds
    i = 0
    # a traced run compares a traced pass with the untraced ones around it
    min_passes = 3 if traced else 1
    while (i < min_passes or time.perf_counter() < t_end
           or (traced and i % 2 == 0)):
        if i >= 2 and time.perf_counter() + passes[-1]["seconds"] > deadline:
            break
        tracer.enabled = traced and i % 2 == 1
        tracer.pass_id = i
        rss_before = session.rss_mb()
        t0 = time.perf_counter()
        ok, err, detail = True, None, {}
        try:
            with tracer.span("bench", "pass"):
                detail = workload.run_pass(session.spark, tracer)
        except Exception:  # a failed pass is counted, not fatal
            ok, err = False, traceback.format_exc(limit=8)
            sys.stderr.write(err)
        dt = time.perf_counter() - t0
        if ok and detail.get("mismatches"):
            ok = False
        passes.append({
            "pass": i, "traced": tracer.enabled, "seconds": dt, "ok": ok,
            "error": err, "persisted_rdds": session.persisted_rdds(),
            "rss_mb": max(rss_before, session.rss_mb()), **detail,
        })
        session.release()
        i += 1
    tracer.enabled = False
    return {"passes": passes, "tracer": tracer}


# --------------------------------------------------------- status API
_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024,
          "TiB": MB * MB}


def parse_metric(value: str) -> float:
    """A SQL-metric string ("1,234", "3.2 s", or the multi-line
    "total (min, med, max ...)\\n12.0 MiB (...)") as a float in base
    units (seconds, bytes or a count)."""
    line = value.strip().split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-zµ]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _ts(s: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def status_snapshot(sc) -> dict:
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    return {
        "jobs": _get(f"{base}/jobs"),
        "stages": _get(f"{base}/stages"),
        "sql": _get(f"{base}/sql?details=true&planDescription=false"
                    f"&offset=0&length=1000000"),
    }


PY_NODE_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "arrow_sent",
    "data returned from Python workers": "arrow_recv",
}


def attribute(spans: list[dict], snap: dict) -> dict[int, dict]:
    """Spark work per span: jobs by job group, falling back to the
    innermost span open at the job's submission (streaming jobs run on
    Spark's own threads); stages by their first job; SQL executions by
    their first job, else by submission time."""
    by_id = {s["id"]: s for s in spans}
    order = sorted(spans, key=lambda s: s["start"])

    def innermost(t: float):
        best = None
        for s in order:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else None

    acc: dict[int, dict] = {}

    def add(sid, key, v):
        d = acc.setdefault(sid, {})
        d[key] = d.get(key, 0.0) + v

    job_span, stage_span = {}, {}
    for j in sorted(snap["jobs"], key=lambda j: j["jobId"]):
        g = j.get("jobGroup") or ""
        sid = int(g[5:]) if g.startswith("span-") and int(g[5:]) in by_id \
            else innermost(_ts(j["submissionTime"]))
        if sid is None:
            continue
        job_span[j["jobId"]] = sid
        add(sid, "jobs", 1)
        if j.get("completionTime"):
            d = acc[sid].setdefault("job_intervals", [])
            d.append((_ts(j["submissionTime"]), _ts(j["completionTime"])))
        for st in j["stageIds"]:
            stage_span.setdefault(st, sid)
    for st in snap["stages"]:
        sid = stage_span.get(st["stageId"])
        if sid is None or st["status"] == "SKIPPED":
            continue
        add(sid, "stages", 1)
        add(sid, "tasks", st["numTasks"])
        add(sid, "task_s", st["executorRunTime"] / 1e3)
        add(sid, "gc_s", st["jvmGcTime"] / 1e3)
        add(sid, "spill", st["memoryBytesSpilled"] + st["diskBytesSpilled"])
        add(sid, "shuffle_write", st["shuffleWriteBytes"])
        add(sid, "fetch_wait_s", st.get("shuffleFetchWaitTime", 0) / 1e3)
    for ex in snap["sql"]:
        jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        sid = next((job_span[j] for j in sorted(jobs) if j in job_span), None)
        if sid is None:
            sid = innermost(_ts(ex["submissionTime"]))
        if sid is None:
            continue
        for node in ex["nodes"]:
            name = node["nodeName"]
            for m in node["metrics"]:
                key = None
                if name.startswith("Scan"):
                    key = {"scan time": "scan_s", "size of files read": "scan_bytes",
                           "number of files read": "files_read"}.get(m["name"])
                elif name.startswith("WholeStageCodegen"):
                    key = "codegen_s" if m["name"] == "duration" else None
                elif m["name"] in PY_NODE_METRICS:
                    key = PY_NODE_METRICS[m["name"]]
                elif name.startswith("Execute InsertInto"):
                    key = {"written output": "written_bytes",
                           "number of written files": "written_files"} \
                        .get(m["name"])
                if key:
                    add(sid, key, parse_metric(m["value"]))
    return acc


# ------------------------------------------------------------- layers
LAYERS = ("sources.read", "sources.write", "types", "convert", "operators",
          "pipeline.text", "pipeline.dedup", "pipeline.graph",
          "pipeline.curation", "pipeline.extract", "streaming", "bench")


def layer_metrics(result: dict, session: Session) -> dict:
    """Per-layer means over the traced passes, plus engine-wide counters."""
    passes = result["passes"]
    spans = [s for s in result["tracer"].spans if s["end"] is not None]
    check_tree(spans)
    traced = [p for p in passes if p["traced"] and p["ok"]]
    plain = [p for p in passes if not p["traced"] and p["ok"]]
    n = max(1, len(traced))
    snap = status_snapshot(session.sc)
    work = attribute(spans, snap)
    selfs = self_times(spans)
    ids = {p["pass"] for p in traced}
    spans = [s for s in spans if s["pass"] in ids]

    per: dict[str, dict] = {lay: {} for lay in LAYERS}
    spark: dict[str, float] = {}

    def add(d, k, v):
        d[k] = d.get(k, 0.0) + v

    for s in spans:
        lay = per[s["layer"]]
        w = work.get(s["id"], {})
        add(lay, "self_s", selfs[s["id"]])
        job_wall = _covered(w.get("job_intervals", []), s["start"], s["end"])
        add(lay, "plan_s", max(0.0, selfs[s["id"]] - job_wall))
        add(lay, "cached", max(0, s["cached_after"] - s["cached_before"]))
        for k, v in w.items():
            if k != "job_intervals":
                add(lay, k, v)
                add(spark, k, v)
        for k, v in s["attrs"].items():
            add(lay, "attr." + k, v)
        if s["layer"] == "convert" and s["attrs"].get("raise_cast"):
            add(lay, "raise_casts", 1)
            add(lay, "raise_cast_jobs", w.get("jobs", 0))
        if s["layer"] == "types" and s["name"] in ("detect", "typecheck"):
            add(lay, "typed_jobs", w.get("jobs", 0))
        if s["name"] == "detect_elementwise":
            add(lay, "elementwise_s", selfs[s["id"]])

    def m(layer, key, scale=1.0):
        return per[layer].get(key, 0.0) * scale / n

    def ratio(a, b):
        return a / b if b else 0.0

    plain_s = statistics.mean(p["seconds"] for p in plain) if plain else 0.0
    traced_s = statistics.mean(p["seconds"] for p in traced) if traced else 0.0
    library_s = sum(per[lay].get("self_s", 0.0) for lay in LAYERS
                    if lay != "bench") / n
    traced_total = sum(p["seconds"] for p in traced)
    execs_wall = _planning(snap, spans)
    out = {
        "sources.read.self_s": m("sources.read", "self_s"),
        # a scan runs in whichever span triggers the action, so scan
        # metrics are summed over every plan, not only sources.read spans
        "sources.read.scan_s": spark.get("scan_s", 0.0) / n,
        "sources.read.scan_mb": spark.get("scan_bytes", 0.0) / MB / n,
        "sources.read.files_read_share": ratio(
            per["sources.read"].get("files_read", 0.0),
            per["sources.read"].get("attr.files_present", 0.0)),
        "sources.write.self_s": m("sources.write", "self_s"),
        "sources.write.written_mb": m("sources.write", "written_bytes", 1 / MB),
        "sources.write.written_per_input_byte": ratio(
            per["sources.write"].get("written_bytes", 0.0),
            per["sources.write"].get("attr.input_bytes", 0.0)),
        "sources.write.files": m("sources.write", "written_files"),
        "types.self_s": m("types", "self_s"),
        "types.jobs": m("types", "jobs"),
        "types.typed_jobs": m("types", "typed_jobs"),
        "types.elems_per_s": ratio(per["types"].get("attr.elements", 0.0),
                                   per["types"].get("elementwise_s", 0.0)),
        "convert.self_s": m("convert", "self_s"),
        "convert.plan_s": m("convert", "plan_s"),
        "convert.jobs": m("convert", "jobs"),
        "convert.jobs_per_raise_cast": ratio(
            per["convert"].get("raise_cast_jobs", 0.0),
            per["convert"].get("raise_casts", 0.0)),
        "convert.codegen_s": m("convert", "codegen_s"),
        "operators.self_s": m("operators", "self_s"),
        "operators.shuffle_mb": m("operators", "shuffle_write", 1 / MB),
        "pipeline.text.self_s": m("pipeline.text", "self_s"),
        "pipeline.dedup.self_s": m("pipeline.dedup", "self_s"),
        "pipeline.dedup.jobs": m("pipeline.dedup", "jobs"),
        "pipeline.dedup.python_s": m("pipeline.dedup", "python_s"),
        "pipeline.dedup.arrow_mb": m("pipeline.dedup", "arrow_sent", 1 / MB)
        + m("pipeline.dedup", "arrow_recv", 1 / MB),
        "pipeline.dedup.shuffle_mb": m("pipeline.dedup", "shuffle_write", 1 / MB),
        "pipeline.dedup.spill_mb": m("pipeline.dedup", "spill", 1 / MB),
        "pipeline.graph.self_s": m("pipeline.graph", "self_s"),
        "pipeline.graph.jobs": m("pipeline.graph", "jobs"),
        "pipeline.curation.self_s": m("pipeline.curation", "self_s"),
        "pipeline.curation.jobs": m("pipeline.curation", "jobs"),
        "pipeline.curation.python_s": m("pipeline.curation", "python_s"),
        "pipeline.curation.shuffle_mb": m("pipeline.curation", "shuffle_write",
                                          1 / MB),
        "pipeline.curation.cached_mb": m("pipeline.curation", "cached", 1 / MB),
        "pipeline.extract.self_s": m("pipeline.extract", "self_s"),
        "pipeline.extract.python_s": m("pipeline.extract", "python_s"),
        "pipeline.extract.python_boot_s": m("pipeline.extract", "python_boot_s"),
        "pipeline.extract.arrow_mb": m("pipeline.extract", "arrow_sent", 1 / MB)
        + m("pipeline.extract", "arrow_recv", 1 / MB),
        "pipeline.extract.docs_per_s": ratio(
            per["pipeline.extract"].get("attr.docs", 0.0),
            per["pipeline.extract"].get("self_s", 0.0)),
        "pipeline.extract.ok_share": ratio(
            sum(p.get("docs_ok", 0) for p in traced),
            sum(p.get("docs", 0) for p in traced)),
        "bench.self_s": m("bench", "self_s"),
        "spark.jobs": spark.get("jobs", 0.0) / n,
        "spark.stages": spark.get("stages", 0.0) / n,
        "spark.tasks": spark.get("tasks", 0.0) / n,
        "spark.task_s": spark.get("task_s", 0.0) / n,
        "spark.planning_s": execs_wall / n,
        "spark.gc_s": spark.get("gc_s", 0.0) / n,
        "spark.spill_mb": spark.get("spill", 0.0) / MB / n,
        "spark.shuffle_write_mb": spark.get("shuffle_write", 0.0) / MB / n,
        "spark.fetch_wait_s": spark.get("fetch_wait_s", 0.0) / n,
        "spark.python_boot_s": spark.get("python_boot_s", 0.0) / n,
        "spark.python_init_s": spark.get("python_init_s", 0.0) / n,
        "spark.python_s": spark.get("python_s", 0.0) / n,
        "spark.arrow_sent_mb": spark.get("arrow_sent", 0.0) / MB / n,
        "spark.arrow_recv_mb": spark.get("arrow_recv", 0.0) / MB / n,
        "spark.persisted_rdds_after_pass": statistics.mean(
            len(p["persisted_rdds"]) for p in passes),
        "spark.tracing_overhead_share": ratio(traced_s - plain_s, plain_s),
        "spark.reconcile_share": ratio(plain_s - library_s, plain_s),
        "spark.job_outside_span_share": ratio(job_outside_s(spans, work),
                                              traced_total),
    }
    out.update(_streaming_layer(traced))
    return out


def _planning(snap: dict, spans: list[dict]) -> float:
    """Driver time of SQL executions inside traced passes that no job
    covers: the execution's wall time minus its jobs' union."""
    if not spans:
        return 0.0
    lo = min(s["start"] for s in spans)
    hi = max(s["end"] for s in spans)
    jobs = {j["jobId"]: j for j in snap["jobs"]}
    total = 0.0
    for ex in snap["sql"]:
        start = _ts(ex["submissionTime"])
        if not lo <= start <= hi:
            continue
        ivs = [(_ts(jobs[j]["submissionTime"]), _ts(jobs[j]["completionTime"]))
               for j in ex.get("successJobIds", [])
               if j in jobs and jobs[j].get("completionTime")]
        end = start + ex["duration"] / 1e3
        total += max(0.0, (end - start) - _covered(ivs, start, end))
    return total


def _streaming_layer(traced: list[dict]) -> dict:
    prog = [b for p in traced for b in p.get("batches", [])]
    n = max(1, len(traced))
    rows = sum(b["rows"] for b in prog)
    trig = sum(b["trigger_s"] for b in prog)
    finals = [p["state_final"] for p in traced if p.get("state_final")]
    return {
        "streaming.batches": len(prog) / n,
        "streaming.trigger_s": trig / len(prog) if prog else 0.0,
        "streaming.state_rows": statistics.mean(f["rows"] for f in finals)
        if finals else 0.0,
        "streaming.state_mb": statistics.mean(f["bytes"] for f in finals) / MB
        if finals else 0.0,
        "streaming.state_commit_s": sum(b["commit_s"] for b in prog) / n,
        "streaming.input_rows_per_s": rows / trig if trig else 0.0,
    }
