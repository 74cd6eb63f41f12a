"""Vault load benchmark: one workload per invocation.

    python3 perfbench/run.py --workload vault_daily_delta --seed 1 \
        --seconds 12 --trace 0

Drives the engine only through its front door (``load_project`` then
``run_pipeline`` over a ``ParquetStore`` and a ``Registry``), on inputs
generated from ``--seed``, and checks every pass's output. The last
stdout line is the result JSON; the line before it is the run record.
``--trace 1`` reports per-layer metrics from a traced run instead of
the end-to-end ones and keeps its spans under ``.perfbench_work/traces``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import checks as check_mod
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
VAULT_PROJECT = os.path.join(HERE, "projects", "vault")
CURATION_PROJECT = os.path.join(HERE, "projects", "curation")
VAULT_TABLES = ("hub_customer", "link_customer_nation", "sat_customer_n0_s",
                "hub_order", "link_order_customer", "sat_order_n0_s")
INCREMENTAL_KINDS = ("hub", "link", "sat_v0", "pit", "bridge")
MIN_REBUILDS = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Python workers import the engine package whatever
    the working directory is."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    import tempfile
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def make_session(run_dir: str, cores: int):
    """The engine's default session config, plus harness-only settings:
    local master on `cores` cores, shuffle partitions = cores, no UI,
    scratch paths inside the run directory."""
    from pyspark.sql import SparkSession
    from datavault4dbt_spark.context import configure_session_builder

    builder = (SparkSession.builder.master(f"local[{cores}]")
               .appName("perfbench")
               .config("spark.sql.shuffle.partitions", str(cores))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.ui.retainedJobs", "100000")
               .config("spark.ui.retainedStages", "100000")
               .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
               .config("spark.sql.warehouse.dir",
                       os.path.join(run_dir, "warehouse"))
               # fixed JIT compiler threads, so none exits (and takes
               # its CPU time out of tree_cpu_s's JIT share) mid-run
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                       "-XX:-UseDynamicNumberOfCompilerThreads"))
    spark = configure_session_builder(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list:
    """Host-wide CPU tick counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list, end: list) -> float:
    """Share of CPU time the hypervisor gave to other guests: a
    host-noise witness recorded next to every result."""
    delta = [e - s for s, e in zip(start, end)]
    return delta[7] / max(1, sum(delta))


# HotSpot's JIT compiler threads (comm is cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path):
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    return (stat[stat.index("(") + 1:stat.rindex(")")],
            stat[stat.rindex(")") + 2:].split())


def tree_cpu_s() -> tuple:
    """(work, jit): CPU seconds used so far by this process and all its
    descendants (the JVM and the Python workers it forks), split into
    the JVM's JIT compiler threads and everything else. Unlike wall
    time, neither grows while the hypervisor runs other guests. JIT
    time is warm-up of the JVM, not work of the pipeline, so the gated
    metrics leave it out."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{d}/stat")[1]
        except OSError:                 # exited while listing
            continue
        # ppid; utime + stime + cutime + cstime (reaped children)
        procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict = {}
    for pid, (ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, jit, stack = 0, 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                jit += int(fields[11]) + int(fields[12])
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


def host_calib_s() -> float:
    """Thread CPU seconds of a fixed single-threaded job that uses no
    engine code: an interpreter loop, hashing a buffer larger than L2,
    and a sort. On a shared host the same work takes more CPU time while
    other guests load the physical cores and caches, with or without
    steal, and so do the benchmark's passes: a host-speed witness for
    the run record (see README)."""
    t0 = time.thread_time()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    buf = bytes(8 << 20)
    for _ in range(4):
        hashlib.sha256(buf).digest()
    rng = random.Random(1)
    sorted(rng.random() for _ in range(300_000))
    return time.thread_time() - t0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def project_kinds(project_dir: str) -> dict:
    import yaml

    out = {}
    for fn in sorted(os.listdir(project_dir)):
        if fn.endswith((".yml", ".yaml")):
            with open(os.path.join(project_dir, fn)) as f:
                doc = yaml.safe_load(f)
            out[doc.get("name") or os.path.splitext(fn)[0]] = doc["kind"]
    return out


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


class Bench:
    """One run: a session, a store, and the passes made over it."""

    def __init__(self, spark, run_dir: str, trace: bool, calib: float):
        from datavault4dbt_spark.plans.incremental import ParquetStore

        self.spark = spark
        self.run_dir = run_dir
        self.store_root = os.path.join(run_dir, "store")
        self.store = ParquetStore(spark, self.store_root)
        self.tracer = None
        if trace:
            from trace_layers import Tracer
            self.tracer = Tracer(spark)
        self.passes: list = []
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        # host_calib_s samples: before the session, after set-up, and
        # after each measured pass
        self.calib = [calib]
        self.post_s = 0.0

    def registry(self, sources: dict, traced: bool):
        from datavault4dbt_spark.context import Registry

        reg = Registry()
        for name, path in sources.items():
            reg.register_parquet(name, path)
        if traced:
            self.tracer.wrap_sources(reg, list(sources))
        return reg

    def end_setup(self, kinds: dict) -> tuple:
        """Take set-up's end time and CPU, sample the host speed, and
        start tracing the store if asked."""
        mark = time.perf_counter(), tree_cpu_s()
        self.calib.append(host_calib_s())
        if self.tracer:
            self.tracer.wrap_store(self.store, kinds)
        return mark

    def run_pass(self, project: str, kinds: dict, sources: dict,
                 label: str, measured: bool, check) -> dict:
        """One load_project + run_pipeline pass, timed; ``check(rec)``
        returns a list of problems (empty = correct output)."""
        from datavault4dbt_spark.plans.pipeline import run_pipeline
        from datavault4dbt_spark.plans.project import load_project

        traced = bool(self.tracer) and measured
        idx = len(self.passes)
        before = check_mod.store_files(self.store_root)
        reg = self.registry(sources, traced)

        def one_pass():
            if traced:
                decls = self.tracer.parse(lambda: load_project(project))
                decls = self.tracer.wrap_decls(decls, kinds)
            else:
                decls = load_project(project)
            run_pipeline(self.spark, decls, self.store, reg,
                         count_rows=False)

        rec = {"idx": idx, "label": label, "measured": measured}
        self.attempted += 1
        problems = []
        cpu0, jit0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if traced:
                self.tracer.pass_span(idx, label, one_pass)
            else:
                one_pass()
        except Exception as e:                      # counted, not fatal
            problems.append(f"raised {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        rec["seconds"] = time.perf_counter() - t0
        cpu1, jit1 = tree_cpu_s()
        rec["cpu_s"], rec["jit_cpu_s"] = cpu1 - cpu0, jit1 - jit0
        self.passes.append(rec)
        rec["written"] = check_mod.written_since(
            before, check_mod.store_files(self.store_root))
        if traced:
            exec_m = self.tracer.exec_metrics(self.tracer.pass_gids(idx))
            rec["exec"] = exec_m
            rec["layers"] = self.tracer.rollup(idx, exec_m, rec["written"])
        if not problems:
            try:
                problems = check(rec)
            except Exception as e:
                problems = [f"check raised {type(e).__name__}: {e}"]
        rec["ok"] = not problems
        if measured:
            self.calib.append(host_calib_s())
        if problems:
            self.failed += 1
            self.errors.append({"pass": idx, "label": label,
                                "problems": problems[:5]})
            print(f"pass {idx} ({label}) failed: {problems[:5]}",
                  file=sys.stderr)
        return rec


# ----------------------------------------------------------- workloads --


def vault_daily_delta(b: Bench, seed: int, seconds: float) -> dict:
    """Day-0 extract in setup, then (delta, no-op rerun) pass pairs
    until the time is up, then a one-shot reload for comparison."""
    kinds = project_kinds(VAULT_PROJECT)
    extracts = gen.vault_extracts(seed)
    days: list = []

    def sources(day):
        """Write extract ``day`` on first use (outside any timing)."""
        while len(days) <= day:
            days.append(gen.write_vault_day(
                os.path.join(b.run_dir, "in", f"day{len(days):02d}"),
                extracts[len(days)]))
        return days[day]["paths"]
    incremental = [n for n, k in kinds.items() if k in INCREMENTAL_KINDS]

    def vault_check(upto, noop=False):
        def check(rec):
            problems = check_mod.vault_problems(
                b.store, gen.vault_manifest(extracts[:upto + 1]))
            if noop:
                appended = {e: n for e, n in
                            rec["written"]["rows_by_entity"].items()
                            if e in incremental and n}
                if appended:
                    problems.append(f"no-op pass appended {appended}")
            return problems
        return check

    b.run_pass(VAULT_PROJECT, kinds, sources(0), "day00",
               measured=False, check=vault_check(0))
    setup_end, setup_cpu = b.end_setup(kinds)
    deadline = setup_end + seconds
    day = 0
    while day < len(extracts) - 1:
        day += 1
        b.run_pass(VAULT_PROJECT, kinds, sources(day),
                   f"day{day:02d}", measured=True, check=vault_check(day))
        b.run_pass(VAULT_PROJECT, kinds, sources(day),
                   f"day{day:02d}-noop", measured=True,
                   check=vault_check(day, noop=True))
        if time.perf_counter() >= deadline:
            break
    measure_end = time.perf_counter()

    # after timing: the incremental tables must equal one load of every
    # extract concatenated
    b.attempted += 1
    t0 = time.perf_counter()
    problems = oneshot_mismatch(b.spark, b.store, b.run_dir,
                                extracts[:day + 1])
    b.post_s = time.perf_counter() - t0
    if problems:
        b.failed += 1
        b.errors.append({"pass": "oneshot", "problems": problems})
        print(f"one-shot comparison failed: {problems}", file=sys.stderr)
    deltas = [p for p in b.passes if p["measured"]
              and not p["label"].endswith("noop")]
    noops = [p for p in b.passes if p["label"].endswith("noop")]
    return {"setup_end": setup_end, "setup_cpu": setup_cpu,
            "measure_end": measure_end,
            "main": deltas, "noop": noops,
            "input_bytes": sum(d["bytes"] for d in days[:day + 1])}


def oneshot_mismatch(spark, store, work_dir: str, extracts: list) -> list:
    """Load every extract concatenated into a fresh store in one pass
    and compare its hub/link/sat digests with ``store``'s."""
    from datavault4dbt_spark.context import Registry
    from datavault4dbt_spark.plans.incremental import ParquetStore
    from datavault4dbt_spark.plans.pipeline import run_pipeline
    from datavault4dbt_spark.plans.project import load_project

    merged = ([r for c, _ in extracts for r in c],
              [r for _, o in extracts for r in o])
    reg = Registry()
    for name, path in gen.write_vault_day(os.path.join(work_dir, "all"),
                                          merged)["paths"].items():
        reg.register_parquet(name, path)
    oneshot = ParquetStore(spark, os.path.join(work_dir, "oneshot"))
    run_pipeline(spark, load_project(VAULT_PROJECT), oneshot, reg,
                 count_rows=False, select=[f"+{t}" for t in VAULT_TABLES])
    inc = check_mod.digests({t: store.read(t) for t in VAULT_TABLES})
    one = check_mod.digests({t: oneshot.read(t) for t in VAULT_TABLES})
    return [f"{t}: incremental {inc[t]} != one-shot {one[t]}"
            for t in VAULT_TABLES if inc[t] != one[t]]


def curation_rebuild(b: Bench, seed: int, seconds: float) -> dict:
    """A first build in setup, then full rebuilds over the same inputs
    until the time is up; table digests must not change."""
    kinds = project_kinds(CURATION_PROJECT)
    docs, pairs = gen.curation_inputs(seed)
    inputs = gen.write_curation(os.path.join(b.run_dir, "in"), docs)
    tables = sorted(kinds)
    state: dict = {}

    def rows_by_table():
        return {t: check_mod.table_rows(b.store_root, t) for t in tables}

    def check(rec):
        rows = rows_by_table()
        if "rows" not in state:
            state["rows"] = rows
            split = check_mod.dup_pairs_split(b.store.read("dedup_groups"),
                                              pairs)
            return [f"duplicate pairs not grouped: {split}"] if split else []
        if rows != state["rows"]:
            return [f"row counts changed: {state['rows']} -> {rows}"]
        return []

    def digests():
        return check_mod.digests({t: b.store.read(t) for t in tables})

    b.run_pass(CURATION_PROJECT, kinds, inputs["paths"], "build",
               measured=False, check=check)
    first = digests()
    setup_end, setup_cpu = b.end_setup(kinds)
    deadline = setup_end + seconds
    n = 0
    while n < MIN_REBUILDS or time.perf_counter() < deadline:
        n += 1
        b.run_pass(CURATION_PROJECT, kinds, inputs["paths"], f"rebuild{n}",
                   measured=True, check=check)
    measure_end = time.perf_counter()
    b.attempted += 1
    t0 = time.perf_counter()
    last = digests()
    b.post_s = time.perf_counter() - t0
    changed = sorted(t for t in tables if first[t] != last[t])
    if changed:
        b.failed += 1
        b.errors.append({"pass": "digests", "problems": changed})
        print(f"table digests changed across passes: {changed}",
              file=sys.stderr)
    rebuilds = [p for p in b.passes if p["measured"]]
    return {"setup_end": setup_end, "setup_cpu": setup_cpu,
            "measure_end": measure_end,
            "main": rebuilds, "noop": rebuilds,
            "input_bytes": inputs["bytes"]}


WORKLOADS = {"vault_daily_delta": vault_daily_delta,
             "curation_rebuild": curation_rebuild}


# -------------------------------------------------------------- report --


def pass_stats(out: dict) -> dict:
    """Wall, CPU and JIT CPU medians of the measured passes, and rows
    written per second of each."""
    def med(passes, key):
        return statistics.median(p[key] for p in passes)

    rows = sum(p["written"]["rows"] for p in out["main"])
    return {
        "pass_s": med(out["main"], "seconds"),
        "noop_pass_s": med(out["noop"], "seconds"),
        "rows_per_s": rows / sum(p["seconds"] for p in out["main"]),
        "pass_cpu_s": med(out["main"], "cpu_s"),
        "noop_pass_cpu_s": med(out["noop"], "cpu_s"),
        "rows_per_cpu_s": rows / sum(p["cpu_s"] for p in out["main"]),
        "pass_jit_cpu_s": med(out["main"], "jit_cpu_s"),
        "noop_pass_jit_cpu_s": med(out["noop"], "jit_cpu_s"),
    }


def end_to_end(b: Bench, out: dict, setup_cpu_s: float) -> dict:
    """The gated metrics. Set-up and pass costs are CPU seconds without
    JIT compiler threads: wall times swing with hypervisor steal on
    shared hosts (see README), so they go to the run record instead."""
    stats = pass_stats(out)
    store_bytes = sum(sz for _e, sz in
                      check_mod.store_files(b.store_root).values())
    return {
        "setup_s": (setup_cpu_s, "s"),
        "pass_cpu_s": (stats["pass_cpu_s"], "s"),
        "noop_pass_cpu_s": (stats["noop_pass_cpu_s"], "s"),
        "rows_per_cpu_s": (stats["rows_per_cpu_s"], "rows/s"),
        "store_bytes_per_input_byte": (store_bytes / out["input_bytes"],
                                       "ratio"),
        "peak_rss_mb": (peak_rss_mb(b.spark), "MB"),
    }


def layer_unit(name: str) -> str:
    base = name.split(".")[1] if name.count(".") >= 1 else name
    if base.endswith("_s"):
        return "s"
    if base.endswith("_bytes") or base == "bytes_written":
        return "bytes"
    return "count"


def per_layer(out: dict) -> dict:
    """Medians of the per-layer rollups: of the delta passes (vault) or
    rebuilds (curation), and under ``noop.`` of the no-op reruns."""
    out_m = {}
    for prefix, passes in (("", out["main"]), ("noop.", out["noop"])):
        layers = [{**p["layers"], "trace.pass_cpu_s": p["cpu_s"]}
                  for p in passes]
        for k in sorted(set().union(*layers)):
            out_m[prefix + k] = (statistics.median(l.get(k, 0)
                                                   for l in layers),
                                 layer_unit(k))
    return out_m


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    import pyspark

    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    cpu_start = cpu_ticks()
    calib = host_calib_s()
    tree_start = tree_cpu_s()
    spark = None
    try:
        spark = make_session(run_dir, cores)
        b = Bench(spark, run_dir, trace=bool(args.trace), calib=calib)
        out = WORKLOADS[args.workload](b, args.seed, args.seconds)
        setup_cpu_s = out["setup_cpu"][0] - tree_start[0]
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "nproc": cores, "spark_master": spark.sparkContext.master,
            "spark_cores": spark.sparkContext.defaultParallelism,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "steal_share": steal_share(cpu_start, cpu_ticks()),
            "host_calib_s": b.calib,
            "setup_cpu_s": setup_cpu_s,
            "setup_jit_cpu_s": out["setup_cpu"][1] - tree_start[1],
            "setup_wall_s": out["setup_end"] - t_start, "check_s": b.post_s,
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "git_commit": git_commit(),
            "passes": [{k: p[k] for k in ("label", "seconds", "cpu_s",
                                          "jit_cpu_s", "ok")}
                       for p in b.passes],
            **pass_stats(out),
            "n_pass": len(out["main"]), "n_noop": len(out["noop"]),
            "pass_s_max": max(p["seconds"] for p in out["main"]),
            "measured_s": out["measure_end"] - out["setup_end"],
            "failed_share": b.failed / b.attempted,
            "errors": b.errors,
        }
        if args.trace:
            metrics = per_layer(out)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces",
                                f"{args.workload}-s{args.seed}.jsonl")
            b.tracer.dump(path, [{"pass_layers": p["idx"],
                                  "label": p["label"],
                                  "layers": p["layers"], "exec": p["exec"]}
                                 for p in b.passes if p["measured"]])
            record["spans"] = os.path.relpath(path, ROOT)
        else:
            metrics = end_to_end(b, out, setup_cpu_s)
        record["wall_s"] = time.perf_counter() - t_start
        print(json.dumps(record))
        print(json.dumps({
            "correct": b.failed == 0, "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
