"""Layer tracing from outside the engine.

Nothing in the engine changes: the tracer wraps the engine's objects at
its public boundaries and records spans (pass -> entity -> phase, each
with start, end, parent and Spark job-group id) plus counts:

- ``EntityDecl.build``       -> ``build`` spans (operators / llm layer)
- store ``append``/``overwrite``/``read``/``exists`` -> ``store.*`` spans
- base-registry source loaders -> ``sources.read`` spans
- ``load_project``           -> ``yaml_api.parse`` spans
- py4j round trips, by wrapping ``GatewayClient.send_command``
- per job group, stage metrics from Spark's status store.

Spans stay in memory and are written as JSON lines when the run ends.
"""

from __future__ import annotations

import dataclasses
import json
import threading
import time

VAULT_KINDS = {"stage": "stage", "hub": "hub", "link": "link",
               "sat_v0": "sat_v0", "sat_v1": "sat_v0", "pit": "pit",
               "bridge": "bridge", "control_snap_v0": "control_snap",
               "control_snap_v1": "control_snap",
               "vault_checks": "vault_checks"}
SPLIT_KINDS = ("stage", "hub", "link", "sat_v0", "pit", "bridge",
               "control_snap", "vault_checks", "llm")
EXEC_FIELDS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
               "spill_bytes", "executor_cpu_s", "gc_s")

_py4j = {"calls": 0, "installed": False}
_local = threading.local()


def _install_py4j_counter():
    """Count every py4j command the driver sends, except those the
    tracer itself sends (job groups, status-store reads) and the object
    releases py4j's finalizer thread sends whenever Python's garbage
    collector runs (their number varies from run to run)."""
    if _py4j["installed"]:
        return
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def send_command(self, command, *args, **kwargs):
        if not (getattr(_local, "quiet", False)
                or command.startswith(release)):
            _py4j["calls"] += 1
        return orig(self, command, *args, **kwargs)

    GatewayClient.send_command = send_command
    _py4j["installed"] = True


class _Quiet:
    def __enter__(self):
        _local.quiet = True

    def __exit__(self, *exc):
        _local.quiet = False


def layer_of(kind: str) -> tuple:
    """(layer, split kind) for an entity kind."""
    if kind in VAULT_KINDS:
        return "operators", VAULT_KINDS[kind]
    return "llm", "llm"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []          # open span ids
        self._groups: list = []         # job-group stack
        self._counted_stages: set = set()
        self.pass_idx = None
        _install_py4j_counter()

    # ------------------------------------------------------ spans ----
    def _open(self, name, **attrs):
        span = {"id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "name": name, "pass": self.pass_idx, **attrs,
                "start": time.perf_counter(), "end": None,
                "py4j_start": _py4j["calls"]}
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span):
        span["end"] = time.perf_counter()
        span["py4j"] = _py4j["calls"] - span.pop("py4j_start")
        self._stack.pop()

    def _set_group(self, gid):
        with _Quiet():
            if gid is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(gid, gid, False)

    def _span(self, name, fn, gid=None, **attrs):
        if gid is not None:
            self._groups.append(gid)
            self._set_group(gid)
        span = self._open(name, gid=gid or (self._groups[-1]
                                            if self._groups else None),
                          **attrs)
        try:
            return fn()
        finally:
            self._close(span)
            if gid is not None:
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)

    def gid(self, entity, phase):
        return f"p{self.pass_idx}:{entity}:{phase}"

    # ----------------------------------------------------- passes ----
    def pass_span(self, idx, label, fn):
        self.pass_idx = idx
        try:
            return self._span("pass", fn, gid=self.gid("_pipeline", "pass"),
                              label=label)
        finally:
            self.pass_idx = None

    def parse(self, fn):
        return self._span("yaml_api.parse", fn)

    def wrap_decls(self, decls: dict, kinds: dict) -> dict:
        """Replace each EntityDecl.build with a timed, job-grouped one."""
        out = {}
        for name, d in decls.items():
            layer, split = layer_of(kinds[name])

            def build(*args, _b=d.build, _n=name, _l=layer, _s=split,
                      **kwargs):
                return self._span(
                    f"{_l}.build", lambda: _b(*args, **kwargs),
                    gid=self.gid(_n, "build"), entity=_n, layer=_l,
                    kind=_s, phase="build")
            out[name] = dataclasses.replace(d, build=build)
        return out

    def wrap_store(self, store, kinds: dict):
        """Wrap the store instance's table operations in place."""
        for op in ("append", "overwrite"):
            orig = getattr(store, op)

            def write(name, df, *a, _o=orig, _op=op, **kw):
                return self._span(
                    f"store.{_op}", lambda: _o(name, df, *a, **kw),
                    gid=self.gid(name, "write"), entity=name,
                    layer="store", kind=layer_of(kinds.get(name, ""))[1],
                    phase="write")
            setattr(store, op, write)
        for op in ("read", "exists"):
            orig = getattr(store, op)

            def call(name, *a, _o=orig, _op=op, **kw):
                return self._span(f"store.{_op}", lambda: _o(name, *a, **kw),
                                  entity=name, layer="store")
            setattr(store, op, call)
        return store

    def wrap_sources(self, reg, names):
        for name in names:
            orig = reg.spark_loaders[name]
            reg.spark_loaders[name] = (
                lambda spark, _o=orig, _n=name: self._span(
                    "sources.read", lambda: _o(spark), entity=_n,
                    layer="sources"))
        return reg

    # ------------------------------------------------ exec metrics ----
    def exec_metrics(self, gids) -> dict:
        """{gid: {field: value}} from the status store. Each stage is
        counted once per run, under the group of the earliest job (the
        lowest job id) that ran it."""
        out = {gid: dict.fromkeys(EXEC_FIELDS, 0) for gid in gids}
        with _Quiet():
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            tracker = self.sc.statusTracker()
            store = jsc.statusStore()
            jobs = sorted((j, gid) for gid in gids
                          for j in tracker.getJobIdsForGroup(gid))
            for j, gid in jobs:
                m = out[gid]
                info = tracker.getJobInfo(j)
                m["jobs"] += 1
                for sid in info.stageIds if info else ():
                    if sid in self._counted_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    self._counted_stages.add(sid)
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    m["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
                    m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    m["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def pass_gids(self, idx) -> list:
        return sorted({s["gid"] for s in self.spans
                       if s["pass"] == idx and s.get("gid")})

    # ------------------------------------------------------ rollup ----
    def rollup(self, idx, exec_by_gid: dict, written: dict) -> dict:
        """Per-layer sums for one pass. Times are self times (a span's
        duration minus its child spans), so layers partition the pass."""
        spans = [s for s in self.spans if s["pass"] == idx]
        child_time: dict = {}
        child_py4j: dict = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
                child_py4j[s["parent"]] = (child_py4j.get(s["parent"], 0)
                                           + s["py4j"])
        r: dict = {}

        def add(key, v):
            r[key] = r.get(key, 0) + v

        for key in ("yaml_api.parse_s", "pipeline.self_s",
                    "operators.build_s", "operators.build_jobs",
                    "operators.py4j_calls", "llm.build_s", "llm.py4j_calls",
                    "store.write_s", "store.read_s", "store.exists_calls",
                    "sources.read_s"):
            r[key] = 0
        for k in SPLIT_KINDS:
            r[f"store.write_s.{k}"] = 0.0
            r[f"exec.executor_cpu_s.{k}"] = 0.0
        for s in spans:
            self_t = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            self_p = s["py4j"] - child_py4j.get(s["id"], 0)
            n = s["name"]
            if n == "pass":
                add("pipeline.self_s", self_t)
                r["trace.pass_s"] = s["end"] - s["start"]
            elif n == "yaml_api.parse":
                add("yaml_api.parse_s", self_t)
            elif n.endswith(".build"):
                add(f"{s['layer']}.build_s", self_t)
                add(f"{s['layer']}.py4j_calls", self_p)
            elif n in ("store.append", "store.overwrite"):
                add("store.write_s", self_t)
                add(f"store.write_s.{s['kind']}", self_t)
            elif n == "store.read":
                add("store.read_s", self_t)
            elif n == "store.exists":
                add("store.read_s", self_t)
                add("store.exists_calls", 1)
            elif n == "sources.read":
                add("sources.read_s", self_t)
        kind_of_gid = {s["gid"]: s.get("kind") for s in spans
                       if s.get("phase") and s.get("gid")}
        for f in EXEC_FIELDS:
            r[f"exec.{f}"] = 0
        for gid, m in exec_by_gid.items():
            for f in EXEC_FIELDS:
                r[f"exec.{f}"] += m[f]
            kind = kind_of_gid.get(gid)
            if kind:
                r[f"exec.executor_cpu_s.{kind}"] += m["executor_cpu_s"]
            if gid.endswith(":build") and kind in VAULT_KINDS.values():
                r["operators.build_jobs"] += m["jobs"]
        r["store.files_written"] = written["files"]
        r["store.bytes_written"] = written["bytes"]
        r["store.rows_written"] = written["rows"]
        return r

    def dump(self, path, extra: list):
        """Write spans (times relative to the first span) as JSON lines."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": round(s["start"] - t0, 6),
                                    "end": round(s["end"] - t0, 6)}) + "\n")
            for rec in extra:
                f.write(json.dumps(rec) + "\n")
