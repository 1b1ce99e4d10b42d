#!/usr/bin/env python3
"""Benchmark of the graft engine: the IMDB classifier pipeline and the
query rows, measured end to end and per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and
the harness from source (sbt, offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Inputs are generated
from --seed (perfbench/gen_*.py) and cached under .bench_build/inputs/.

One client in a closed loop: the harness (perfbench/src) runs one
operation at a time on one `local[4]` session, one pass over the
workload's fixed operation list. The list is sized so that a pass
takes about the contract's run_seconds (30 s) on a 4-vCPU host;
--seconds does not change the work, so every run measures the same
work. perfbench/DESIGN.md has the design, the metric definitions and
the measured spreads.
Outputs are checked after the measured region: every query row
against the program's own DuckDB oracle SQL, the IMDB run against its
K1/K2 sink contracts and a holdout-accuracy floor. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. With
--trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set. A full artifact (host stamp, probes at both ends,
every sample, spans) is written to .bench_build/artifacts/.

Exit codes: 0 with a result line; 2 when the program's sources or the
toolchain are missing; 3 when the build or the harness fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
DEADLINE_S = 170.0
HEAP = "3g"

sys.path.insert(0, HERE)
import gen_imdb  # noqa: E402
import gen_rows  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these opens.
OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BenchError(Exception):
    def __init__(self, code, msg):
        super().__init__(msg)
        self.code = code


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars directory: $SPARK_HOME/jars, else
    the first `jars` beside a `bin/` on PATH that holds spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise BenchError(2, "Spark jars not found: set SPARK_HOME")


def build(deadline, jars):
    for need in ("src/main/scala/graft", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(2, f"{need} not found next to perfbench/; "
                                "run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise BenchError(2, f"{tool} not on PATH")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest, 0.0
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=jars)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "compile"]
    t0 = time.perf_counter()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc = run_group(cmd, HERE, env, logf, deadline - time.time())
    if rc != 0:
        raise BenchError(3, f"build failed (rc={rc}); see .bench_build/build.log")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest, time.perf_counter() - t0


def run_group(cmd, cwd, env, logf, timeout):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

def make_inputs(spec):
    """Generate the inputs of `spec`, or reuse them from an earlier run."""
    os.makedirs(os.path.join(BUILD, "inputs"), exist_ok=True)
    seed, size = spec["seed"], spec["size"]
    if spec["kind"] == "imdb":
        d = os.path.join(BUILD, "inputs",
                         f"imdb-g{gen_imdb.GEN_VERSION}-s{seed}-n{size['n_train']}")
        return d, gen_imdb.generate(d, seed, **size)
    d = os.path.join(BUILD, "inputs", f"rows-g{gen_rows.GEN_VERSION}-s{seed}-sf{size}")
    return d, gen_rows.generate(d, seed, size)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest order statistic with at least ten samples above it, as
    (value, percentile, n). Below 21 samples no percentile at or above
    the median has ten beyond it; the tail is then the slowest sample."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return s[-1], 1.0, n
    return s[n - 11], (n - 10) / n, n


def total(ops, f):
    return float(sum(f(o) for o in ops))


def end_to_end(spec, res):
    ops = res["ops"]
    if spec["kind"] == "imdb":
        # one operation: the pipeline run; its stages are layers
        wall = res["measured_s"]
        samples = [wall]
        items = res["imdb"]["movies"]
    else:
        wall = total(ops, lambda o: o["wall_s"])
        samples = [o["wall_s"] for o in ops if o["ok"]]
        items = len(spec["rows"])
    tail_v, tail_p, n = tail(samples)
    return {
        "setup_s": (res["setup"]["total_s"], "s"),
        "wall_s": (wall, "s"),
        "items_per_s": (items / wall if wall > 0 else 0.0, "1/s"),
        "op_p50_s": (median(samples), "s"),
    }, {"op_samples": n, "op_tail_percentile": tail_p, "op_tail_s": tail_v,
        "items": items}


def per_layer(spec, res, failed_frac, units):
    ops = res["ops"]
    out = {k: 0.0 for k in units}

    def put(k, v):
        out[k] = float(v)

    stages = ["fit_indexers", "fit_scaler", "train_rf", "predict_write", "cache_write"]
    imdb = res["imdb"]
    if spec["kind"] == "imdb":
        for st in stages:
            put(f"imdb.stage.{st}_s", total(
                [o for o in ops if o["name"] == f"imdb.{st}"], lambda o: o["phases"]["stage_s"]))
        rf = [o for o in ops if o["name"] == "imdb.train_rf"]
        for k in ("jobs", "result_bytes", "driver_gap_s"):
            put(f"imdb.ImdbModel.{k}", total(rf, lambda o: o["spark"].get(k, 0)))
        for k, v in imdb["layers"].items():
            put(k, v)
        put("imdb.engineered_s", imdb["engineered_s"])
        calls = imdb["predictor_calls"]
        put("imdb.Enrichment.predictor_calls", calls)
        put("imdb.Enrichment.cache_hit_ratio",
            1.0 - calls / imdb["movies"] if imdb["movies"] else 0.0)
    else:
        for ph in ("build", "plan", "exec"):
            put(f"queries.{ph}_s", total(ops, lambda o: o["phases"][f"{ph}_s"]))
        put("scale.CacheRegistry.drain_s", total(ops, lambda o: o["phases"]["drain_s"]))
        put("scale.MemoPool.builds", total(ops, lambda o: len(o["memo_builds"])))
        put("scale.MemoPool.build_s",
            total(ops, lambda o: sum(b[1] for b in o["memo_builds"])))
        put("scale.MemoPool.pooled_bytes",
            max([o["extra"].get("pooled_bytes", 0) for o in ops] or [0]))
        put("storage.cached_bytes_after_op",
            max([o["extra"].get("cached_bytes", 0) for o in ops] or [0]))
    for k in ("jobs", "stages", "tasks", "task_busy_s", "task_cpu_s", "driver_gap_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "output_bytes", "result_bytes", "task_retries"):
        put(f"spark.{k}", total(ops, lambda o: o["spark"].get(k, 0)))
    batches = res["batches"]
    if batches:
        put("streaming.batches", len(batches))
        put("streaming.empty_batches", sum(1 for b in batches if b["input_rows"] == 0))
        for k in ("addBatch", "walCommit", "commitOffsets"):
            put(f"streaming.{k}_ms", total(batches, lambda b: b["durations_ms"].get(k, 0)))
        put("streaming.state_rows", max(b["state_rows"] for b in batches))
        put("streaming.state_memory_bytes", max(b["state_bytes"] for b in batches))
    put("proc.write_bytes", res["proc"]["write_bytes"])
    put("proc.gc_s", res["proc"]["gc_s"])
    for k in ("jvm", "session", "warmup"):
        put(f"setup.{k}_s", res["setup"][f"{k}_s"])
    e2e, info = end_to_end(spec, res)
    put("trace.wall_s", e2e["wall_s"][0])
    put("op_tail_s", info["op_tail_s"])
    put("proc.peak_rss_mb", res["proc"]["peak_rss_mb"])
    put("failed_frac", failed_frac)
    return out


def span_self_times(spans):
    """Self time per span name: duration minus the part covered by its
    child spans."""
    kids = {}
    for s in spans:
        kids.setdefault(s[4], []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(kids.get(s[0], []), key=lambda c: c[2]):
            cs, ce = max(c[2], s[2]), min(c[3], s[3])
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s[1]] = out.get(s[1], 0.0) + (s[3] - s[2] - covered) / 1e9
    return out


# ---------------------------------------------------------------- main

def run(name, spec, seed, seconds, trace, plant=""):
    """Build if needed, generate inputs, run the harness, check its
    outputs. Returns (result line, artifact)."""
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    floor = load_json(os.path.join(HERE, "workloads.json"))["imdb_accuracy_floor"]
    contract = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = dict(spec, seed=seed)
    jars = spark_jars()
    digest, build_s = build(t_start + 850.0, jars)
    if build_s:
        # the first run in a checkout pays the build; measure from here
        deadline = time.time() + DEADLINE_S
    inputs, manifest = make_inputs(spec)
    import checks  # after build(): it needs tools/selfcheck.py

    work = os.path.join(BUILD, "work", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *OPENS, "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
           "perfbench.Main",
           "--workload", spec["kind"], "--inputs", inputs, "--out", work,
           "--trace", str(trace), "--rows", ",".join(spec.get("rows", [])),
           "--trees", str(spec.get("trees", 300))]
    if plant:
        cmd += ["--plant", plant]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        rc = run_group(cmd, work, env, logf, deadline - time.time() - 10.0)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        raise BenchError(3, f"harness failed (rc={rc})")
    with open(result_path) as f:
        res = json.load(f)

    # ---- checks, outside the measured region
    if spec["kind"] == "imdb":
        check = checks.check_imdb(inputs, work, res, floor)
        attempted = 1
        failed = int(bool(check["failed"]) or not all(o["ok"] for o in res["ops"]))
    else:
        check = checks.check_rows(inputs, work, res)
        attempted = len(res["ops"])
        failed = len(check["failed_ops"])
    failed_frac = failed / attempted if attempted else 1.0

    e2e, info = end_to_end(spec, res)
    units = {m["name"]: m["unit"] for m in contract["per_layer"]}
    if trace:
        layer = per_layer(spec, res, failed_frac, units)
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    artifact = {
        "workload": name, "seed": seed, "seconds": seconds,
        "trace": trace, "git_sha": git_sha(), "source_sha256": digest,
        "build_s": build_s, "inputs": manifest, "stamp": res["stamp"],
        "probes_start": res["probes_start"], "probes_end": res["probes_end"],
        "proc_start_to_first_op_s": res["proc_start_to_first_op_s"],
        "setup": res["setup"], "measured_s": res["measured_s"],
        "sample_info": info, "checks": check, "attempted": attempted, "failed": failed,
        "metrics": metrics, "ops": res["ops"], "batches": res["batches"],
        "spans": res["spans"],
        "span_self_s": span_self_times(res["spans"]) if trace else {},
    }
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    with open(os.path.join(BUILD, "artifacts",
                           f"{name}-s{seed}-t{trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for k, m in metrics.items():
        log(f"{name} {k} = {m['value']:.6g} {m['unit']}")
    log(f"{name} samples={info['op_samples']} "
        f"tail_pct={info['op_tail_percentile']:.3f} "
        f"probes start={res['probes_start']} end={res['probes_end']} "
        f"checks={check['summary']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, artifact


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its build or harness (run_group's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        workloads = load_json(os.path.join(HERE, "workloads.json"))["workloads"]
        if args.workload not in workloads:
            raise BenchError(2, f"unknown workload {args.workload}")
        out, _ = run(args.workload, workloads[args.workload], args.seed,
                     args.seconds, args.trace)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(e.code)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
