#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's harness (perfbench/harness, one sbt invocation through the
program's own build definition); later runs reuse the build while no source
changed. Inputs are generated from --seed (gen.py) and reused only when their
recorded seed, generator version, row count and file list all match.

Workloads, each one process sized to the machine's CPU count:

  table_full    graft.cli.ValidateTableMain as a child JVM on a fresh output
                directory, timed from spawn to exit code. Set-up: the same
                CLI on a one-file, 1k-row table from the same generator.
  neardup       Dedup.nearDupSurvivors(k=24, bands=12, threshold=0.5) in
                process (harness NearDupMain), timed from call to counted
                result, after two untimed warm-up calls. Set-up: SparkSession
                open plus input read and cache.

Every timed operation repeats until --seconds have passed (at least once,
neardup at least twice); times are medians. Every output is checked against
oracle.py. --trace 0
prints the end-to-end metrics, --trace 1 the per-layer metrics of one traced
operation (TraceListener attached through Spark configuration, spans around
the compile and bind layers from ProbeMain). The last stdout line is the
result JSON; the line before it holds diagnostics, including a fixed-work CPU
calibration probe taken before and after the measurement.
"""

import argparse
import hashlib
import json
import math
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(BENCH, "work")
SCHEMA = os.path.join(BENCH, "flagship.json")
CPUS = len(os.sched_getaffinity(0))
RUN_LIMIT_S = 170  # every run, build excluded, ends within this

TABLE_ROWS, TABLE_FILES = 1_000_000, 16
SETUP_ROWS = 1_000
CORPUS_DOCS, CORPUS_FILES = 24_000, 16

# per-layer metrics each workload measures; the other per-layer metrics of
# BENCHMARK.json belong to layers the workload does not run and read 0
TABLE_LAYER = (
    ["compile.schema_ms", "exprs.bind_ms"]
    + [f"checkpoint.{m}" for m in ("wall_s", "task_s", "cpu_s", "gc_s", "input_mb", "output_mb",
                                    "jobs", "tasks", "task_skew", "units", "violation_rows")]
    + [f"integrity.{m}" for m in ("wall_s", "task_s", "input_mb", "shuffle_write_mb",
                                   "shuffle_read_mb", "fetch_wait_s", "spill_mb", "task_skew",
                                   "blocks_held_mb")]
    + [f"stats.{m}" for m in ("wall_s", "task_s", "input_mb", "shuffle_write_mb", "spill_mb")]
    + ["cli.verdict_s", "cli.unattributed_s", "table.input_read_ratio"])
CATALYST = [f"catalyst.{m}" for m in ("planning_s", "codegen_s", "queries", "interpreted_exprs")]
PIPELINE = [f"pipeline.{m}" for m in ("minhash_pairs_s", "components_s", "survivors_s", "jobs",
                                      "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
                                      "task_skew", "verified_pairs", "blocks_held_mb")]
MEASURED = {
    "table_full": TABLE_LAYER + CATALYST + ["trace.wall_s"],
    "neardup": PIPELINE + CATALYST + ["trace.wall_s"],
}


class Failure(Exception):
    """The benchmark cannot run here (no program, build failed)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Program + harness classpath, building when any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise Failure("no program to build here (build.sbt and src/main/scala expected)")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = _source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    t0 = time.perf_counter()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(BENCH, "harness"), env=env, capture_output=True,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "harness" in ln and os.pathsep in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise Failure(f"build failed (sbt exit {p.returncode})")
    log(f"built in {time.perf_counter() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def _files_of(*dirs):
    return [os.path.join(d, n) for d in dirs for n in sorted(os.listdir(d)) if n.endswith(".parquet")]


def _describe(files):
    return dict(files=[[os.path.basename(f), os.path.getsize(f)] for f in files],
                rows=sum(pq.read_metadata(f).num_rows for f in files))


def inputs(kind, seed, params, make):
    """Generated input directory for (kind, seed, params), regenerated unless
    its recorded seed, generator version, parameters, row count and file
    list all match what is on disk. `make(dir)` writes the files and returns
    extra metadata (the oracle's expectations)."""
    d = os.path.join(WORK, "inputs", kind)
    meta_path = os.path.join(d, "meta.json")
    want = dict(seed=seed, gen_version=gen.GEN_VERSION, params=params)
    if os.path.exists(meta_path):
        meta = json.load(open(meta_path))
        subdirs = [os.path.join(d, s) for s in meta.get("subdirs", [])]
        if ({k: meta.get(k) for k in want} == want
                and all(os.path.isdir(s) for s in subdirs)
                and [_describe(_files_of(s)) for s in subdirs] == meta["inputs"]):
            return d, meta
        log(f"{kind}: recorded input does not match seed {seed}; regenerating")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    extra = make(d)
    subdirs = extra.pop("subdirs")
    meta = dict(want, subdirs=subdirs,
                inputs=[_describe(_files_of(os.path.join(d, s))) for s in subdirs], **extra)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    log(f"{kind}: generated in {time.perf_counter() - t0:.1f} s")
    return d, meta


def table_inputs(seed):
    def make(d):
        for s in ("table", "setup"):
            os.makedirs(os.path.join(d, s))
        gen.transcripts(seed, TABLE_ROWS, TABLE_FILES, f"{d}/table")
        gen.transcripts(seed, SETUP_ROWS, 1, f"{d}/setup")
        return dict(subdirs=["table", "setup"],
                    expect=oracle.table(_files_of(f"{d}/table")),
                    expect_setup=oracle.table(_files_of(f"{d}/setup")))
    return inputs("transcripts", seed, [TABLE_ROWS, TABLE_FILES, SETUP_ROWS], make)


def corpus_inputs(seed):
    def make(d):
        os.makedirs(f"{d}/corpus")
        survivors, clusters = gen.corpus(seed, CORPUS_DOCS, CORPUS_FILES, f"{d}/corpus")
        return dict(subdirs=["corpus"], survivors=survivors, clusters=clusters)
    return inputs("corpus", seed, [CORPUS_DOCS, CORPUS_FILES], make)


# ---------------------------------------------------------------- processes

# the JVM options the program's build uses for forked runs
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Jvm:
    def __init__(self, classpath, deadline):
        entries = classpath.split(os.pathsep)
        self.harness = [e for e in entries if e.startswith(os.path.join(BENCH, "harness"))]
        self.program = [e for e in entries if e not in self.harness]
        self.deadline = deadline
        self.tmp = os.path.join(WORK, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def run(self, main, args, name, harness=False, props=()):
        """Spawn one JVM, wait for it; (exit code, wall s, peak RSS MB, stdout, stderr)."""
        cp = os.pathsep.join((self.harness if harness else []) + self.program)
        cmd = (["java"] + ADD_OPENS
               # fixed heap and young generation: the heap's footprint then
               # follows allocation, not GC timing, so peak RSS repeats
               + ["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={self.tmp}",
                  f"-Dspark.local.dir={self.tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC"]
               + list(props) + ["-cp", cp, main] + list(args))
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
        env.pop("SPARK_MASTER", None)
        out_path = os.path.join(WORK, "logs", f"{name}.out")
        err_path = os.path.join(WORK, "logs", f"{name}.err")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        timeout = self.deadline - time.monotonic()
        if timeout <= 0:
            return None, 0.0, 0.0, "", "time limit reached before start"
        with open(out_path, "w") as out, open(err_path, "w") as err:
            t0 = time.perf_counter()
            p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=WORK, env=env)
            timer = threading.Timer(timeout, p.kill)
            timer.start()
            _, status, usage = os.wait4(p.pid, 0)
            wall = time.perf_counter() - t0
            timer.cancel()
            p.returncode = os.waitstatus_to_exitcode(status)
        code = p.returncode if p.returncode >= 0 else None  # killed: timeout
        return code, wall, usage.ru_maxrss / 1024.0, open(out_path).read(), open(err_path).read()


# ---------------------------------------------------------------- workloads

class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def check(self, what, problems):
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]
        return not problems


def _cli(jvm, table_dir, out_dir, name, props=()):
    return jvm.run("graft.cli.ValidateTableMain", [SCHEMA, table_dir, out_dir], name,
                   harness=bool(props), props=props)


def _check_cli(tally, what, result, expected, out_dir, units):
    code, wall, rss, out, err = result
    if code is None:
        return tally.check(what, [f"timed out or not started ({err})"])
    return tally.check(what, oracle.check_table_run(expected, out_dir, code, out, err, units))


def _manifest_violations(path):
    lines = open(path).read().splitlines() if os.path.exists(path) else []
    return sum(json.loads(ln)["violations"] for ln in lines)


def _trace_props(trace_file):
    return ["-Dspark.extraListeners=perfbench.TraceListener",
            f"-Dperfbench.trace.out={trace_file}",
            # vectored parquet reads run outside the task thread, whose
            # Hadoop FS statistics are what task input bytes count
            "-Dspark.hadoop.parquet.hadoop.vectored.io.enabled=false"]


def _envelope(spans, layer):
    s = [(a, b) for n, a, b, _ in spans if n == layer]
    return (max(b for _, b in s) - min(a for a, _ in s)) / 1000.0 if s else 0.0


def _union_s(spans):
    total, end = 0.0, None
    for a, b in sorted((a, b) for _, a, b, _ in spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def table_layers(jvm, tr, wall, table_files, units, violation_rows):
    """Per-layer metrics of one traced CLI run from its TraceListener summary."""
    L = tr["layers"]
    get = lambda layer, k: L.get(layer, {}).get(k, 0.0)  # noqa: E731
    m = {"trace.wall_s": wall, "checkpoint.units": units,
         "checkpoint.violation_rows": violation_rows}
    for layer, keys in (("checkpoint", ("task_s", "cpu_s", "gc_s", "input_mb", "output_mb",
                                        "jobs", "tasks", "task_skew")),
                        ("integrity", ("task_s", "input_mb", "shuffle_write_mb",
                                       "shuffle_read_mb", "fetch_wait_s", "spill_mb",
                                       "task_skew", "blocks_held_mb")),
                        ("stats", ("task_s", "input_mb", "shuffle_write_mb", "spill_mb"))):
        m[f"{layer}.wall_s"] = _envelope(tr["spans"], layer)
        for k in keys:
            m[f"{layer}.{k}"] = get(layer, k)
    # the verdict: cli spans after the last span of any other layer (earlier
    # cli spans are schema reads ahead of the layers)
    last = max((b for n, _, b, _ in tr["spans"] if n != "cli"), default=0)
    m["cli.verdict_s"] = _envelope([s for s in tr["spans"] if s[1] >= last], "cli")
    m["cli.unattributed_s"] = wall - _union_s(tr["spans"])
    m["table.input_read_ratio"] = (sum(layer["input_mb"] for layer in L.values()) * 2 ** 20
                                   / sum(os.path.getsize(f) for f in table_files))
    for k in ("planning_s", "codegen_s", "queries", "interpreted_exprs"):
        m[f"catalyst.{k}"] = tr["catalyst"][k]
    probe = os.path.join(WORK, "probe.json")
    code, *_ = jvm.run("perfbench.ProbeMain", [SCHEMA, os.path.dirname(table_files[0]), probe],
                       "probe", harness=True)
    if code == 0:
        p = json.load(open(probe))
        m["compile.schema_ms"], m["exprs.bind_ms"] = p["compile_ms"], p["bind_ms"]
    return m


def run_table(seed, seconds, trace, jvm, tally):
    d, meta = table_inputs(seed)
    table_dir = f"{d}/table"
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = f"{run_dir}/out"
    setups, walls, rss, layers = [], [], [], None
    if not trace:
        r = _cli(jvm, f"{d}/setup", f"{run_dir}/setup_out", "setup")
        setups.append(r[1])
        _check_cli(tally, "set-up run", r, meta["expect_setup"], f"{run_dir}/setup_out", 1)
    expected = meta["expect"]
    table_files = _files_of(table_dir)

    t_end = time.monotonic() + seconds
    while True:
        shutil.rmtree(out_dir, ignore_errors=True)
        props = _trace_props(f"{run_dir}/trace.json") if trace else ()
        r = _cli(jvm, table_dir, out_dir, "timed", props)
        ok = _check_cli(tally, "timed run", r, expected, out_dir, TABLE_FILES)
        walls.append(r[1])
        rss.append(r[2])
        if trace:
            if ok:
                layers = table_layers(jvm, json.load(open(f"{run_dir}/trace.json")), r[1],
                                      table_files, TABLE_FILES,
                                      _manifest_violations(f"{out_dir}/manifest.jsonl"))
            break
        if time.monotonic() >= t_end or not ok:
            break
    return expected["rows"], walls, setups, rss, layers


DEDUP_PHASES = (("Dedup$.minhashPairs", "pipeline.minhash_pairs_s"),
                ("Dedup$.connectedComponents", "pipeline.components_s"))


def _dedup_phases(spans, start_ms, end_ms):
    """Split one traced nearDupSurvivors call's wall time by the Dedup
    function that launched each Spark execution or job (the innermost of
    minhashPairs and connectedComponents among its call site's frames;
    work launched from neither, such as counting the result, is the
    survivor step). The time up to each span's end goes to that span's
    function, so the three phases add up to the call's wall time."""
    phases = dict.fromkeys([m for _, m in DEDUP_PHASES] + ["pipeline.survivors_s"], 0.0)
    cursor = start_ms
    for _, _, end, site in sorted(spans, key=lambda s: s[2]):
        end = min(end, end_ms)
        if end <= cursor:
            continue
        frames = site.split(" < ") if site else []
        phase = next((m for f in frames for key, m in DEDUP_PHASES if f.endswith(key)),
                     "pipeline.survivors_s")
        phases[phase] += (end - cursor) / 1000.0
        cursor = end
    phases["pipeline.survivors_s"] += max(0, end_ms - cursor) / 1000.0
    return phases


def run_neardup(seed, seconds, trace, jvm, tally):
    d, meta = corpus_inputs(seed)
    out = os.path.join(WORK, "neardup.json")
    if os.path.exists(out):
        os.remove(out)
    code, _, peak, _, err = jvm.run(
        "perfbench.NearDupMain", [f"{d}/corpus", out, str(seconds), str(trace)], "neardup",
        harness=True)
    if code != 0 or not os.path.exists(out):
        tally.check("neardup process", [f"exit code {code}: {err[-2000:]}"])
        return CORPUS_DOCS, [], [], [peak], None
    res = json.load(open(out))
    for k, call in enumerate(res["warmup"] + res["calls"]):
        tally.check(f"call {k}", oracle.check_survivors(meta["survivors"], call))
    walls = [c["wall_s"] for c in res["calls"]]
    layers = None
    if trace:
        tr = res["trace"]
        pl = tr["layers"].get("pipeline", {})
        layers = {"trace.wall_s": walls[0], "pipeline.verified_pairs": res["verified_pairs"],
                  "pipeline.blocks_held_mb": res["calls"][0]["held_mb"]}
        layers.update(_dedup_phases(tr["spans"], *res["call_ms"]))
        for k in ("jobs", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "task_skew"):
            layers[f"pipeline.{k}"] = pl.get(k, 0.0)
        for k in ("planning_s", "codegen_s", "queries", "interpreted_exprs"):
            layers[f"catalyst.{k}"] = tr["catalyst"][k]
        layers["catalyst.codegen_s"] -= res["codegen_before_s"]
    return CORPUS_DOCS, walls, [res["setup_s"]], [peak], layers


# ---------------------------------------------------------------- main

def _spin(n):
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return x


def calibrate():
    """Fixed CPU work on every core at once (one pure-Python integer loop per
    core), median wall of 3 rounds, in ms. A diagnostic, not a metric: it
    shows a run that landed in a slow window of the host."""
    pool = multiprocessing.Pool(CPUS)
    try:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_spin, [300_000] * CPUS)
            times.append((time.perf_counter() - t0) * 1000.0)
    finally:
        pool.close()
        pool.join()
    return statistics.median(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["table_full", "neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath = build()
    except (Failure, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        return 1
    jvm = Jvm(classpath, time.monotonic() + RUN_LIMIT_S)
    tally = Tally()
    calib = [calibrate()]
    if a.workload == "neardup":
        rows, walls, setups, rss, layers = run_neardup(a.seed, a.seconds, a.trace, jvm, tally)
    else:
        rows, walls, setups, rss, layers = run_table(a.seed, a.seconds, a.trace, jvm, tally)
    calib.append(calibrate())

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        measured = layers or {}
        metrics = {m: measured.get(m) if m in MEASURED[a.workload] else 0.0 for m in names}
        unknown = set(MEASURED[a.workload]) - set(names)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        job = statistics.median(walls) if walls else None
        metrics = {
            "job_s": job,
            "rows_per_s": rows / job if job else None,
            "setup_s": statistics.median(setups) if setups else None,
            "peak_rss_mb": statistics.median(rss) if rss else None,
            "success_rate": 1.0 - tally.failed / max(1, tally.attempted),
        }
        unknown = set(metrics) - set(names)
        metrics = {m: metrics.get(m) for m in names}
    missing = [m for m, v in metrics.items() if v is None or math.isnan(v)]
    if missing or unknown:
        tally.problems.append(f"metrics missing or NaN: {missing}; not in BENCHMARK.json: "
                              f"{sorted(unknown)}")
    for p in tally.problems:
        log(f"FAILED {p}")

    print(json.dumps({"diagnostics": {
        "workload": a.workload, "seed": a.seed, "cpus": CPUS, "rows": rows,
        "calib_ms": calib, "walls_s": walls, "setups_s": setups, "peak_rss_mb": rss,
        "problems": tally.problems[:20], "input_properties": gen.PROPERTIES}}))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": not tally.problems,
        "attempted": max(1, tally.attempted),
        "failed": tally.failed if tally.attempted else 1,
        "metrics": {m: {"value": 0.0 if m in missing else v, "unit": units[m]}
                    for m, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
