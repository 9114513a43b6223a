"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <ingest|suite> --seed <n> \
        --seconds <n> --trace <0|1>
    python3 perfbench/run.py compare <a.json>... -- <b.json>...

A run builds the engine and this benchmark from the checkout's sources (once
per checkout; the build is reused while no source changes), generates the
workload's input tables from the seed into an empty state directory, runs the
workload in one JVM, checks its outputs, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the run also records spans and
prints the per-layer metrics. The full result, with both metric sets and the
raw samples, is kept in `perfbench/out/`. The exit code is 0 only for a
complete and correct run.

`compare` prints, per workload, the medians of two sets of result files side
by side: end-to-end metrics first, then the deterministic counters, then the
timings.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

# Workload sizing. sf scales the generated tables (sf0.1 = 100,000 events,
# 600,000 lineitem rows); one block holds ten ops.
SIZES = {
    "ingest": {"sf": 0.01, "warm_blocks": 300, "backlog": 100, "live_seconds": 5,
               "block_rate": 4.0, "serve_rate": 4.0},
    "suite": {"sf": 0.01},
}
# The timed section repeats a fixed unit of work (an ingest catch-up round,
# a suite pass) round(seconds / 3) times, at least 3: a count set by
# --seconds alone, not by the clock. A count that followed the host's speed
# let a slow run stop earlier in the warm-up and widened the spread between
# runs. The metrics are medians over the repetitions.
REPEAT = {"ingest": "rounds", "suite": "passes"}
# at most 6 catch-up rounds: the traced run's live phase needs blocks after them
MAX_ROUNDS = 6
# The suite times a fixed subset of SparkEntry.queries: every query the
# roadmap names as an optimization target, plus the costliest query (by wall,
# 4 cores, sf0.01) of each other operator family the targets leave out (text,
# stats, sampling). All 109 with their warm pass take about 115 s per run,
# more than the run budget allows.
SUITE_QUERIES = [
    "dedup_containment", "dedup_containment_capped", "dedup_containment_capped_approx",
    "dedup_minhash_lsh", "dedup_span_removal", "sim_ivfpq_recall", "sim_ivf_recall",
    "text_tfidf_top_terms", "sketch_hll_distinct", "sample_importance_resample",
]
# The suite's tables are the same in every run, so its fingerprints can be
# committed; the seed changes nothing in the suite.
SUITE_DATA_SEED = 42
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build: both build definitions and sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]:
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    required = [os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [p for p in required if not os.path.exists(p)]
    if missing:
        die(f"the engine sources are not here: {', '.join(os.path.relpath(p, ROOT) for p in missing)}")
    target = os.path.join(HERE, "target")
    cp_file, stamp = os.path.join(target, "classpath.txt"), os.path.join(target, "source.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log = os.path.join(HERE, "out", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as f:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=sbt_env(), stdout=f, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 3)
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def heap_size():
    """Half the host memory, capped at 8g and at least 2g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classpath, state, args, deadline):
    """Runs one workload in its own JVM. The JVM compiles with C1 only
    (TieredStopAtLevel=1): with C2 a run ends while C2 is still compiling
    Spark, so each repetition ran faster than the one before, and how far a
    run got depended on the host's speed (ten-seed spreads 0.15-0.26); with
    C1 the repetitions after the first are level. The heap is the Tier-1
    sizing: half the host memory, at most 8g."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{heap_size()}", "-XX:TieredStopAtLevel=1"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(state, 'warehouse')}",
              "-cp", classpath, "graft.perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    log = os.path.join(state, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=state, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc, log


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def run(a):
    classpath = build()
    start = time.time()
    sizes = SIZES[a.workload]
    out_dir = os.path.join(HERE, "out")
    state = os.path.join(HERE, "state", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    try:
        data = os.path.join(state, "data")
        data_seed = SUITE_DATA_SEED if a.workload == "suite" else a.seed
        tables = None if a.workload == "suite" else "events"
        gen = [sys.executable, os.path.join(HERE, "gen_data.py"), data, str(sizes["sf"]), str(data_seed)]
        subprocess.run(gen + ([tables] if tables else []), check=True)
        raw_path = os.path.join(state, "raw.json")
        args = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "data": data, "state": state, "out": raw_path, "t0_ms": int(start * 1000),
                "spans": os.path.join(state, "spans.jsonl"),
                "fingerprints": os.path.join(HERE, "fingerprints.json"),
                "blocks": int(sizes["sf"] * 100_000)}
        args.update({k: v for k, v in sizes.items() if k != "sf"})
        count = max(3, round(a.seconds / 3))
        args[REPEAT[a.workload]] = min(count, MAX_ROUNDS) if a.workload == "ingest" else count
        if a.workload == "suite":
            args["queries"] = ",".join(SUITE_QUERIES)
        rc, log = run_jvm(classpath, state, args, start + RUN_TIMEOUT_S)
        os.makedirs(out_dir, exist_ok=True)
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        shutil.copy(log, os.path.join(out_dir, name + ".log"))
        if rc != 0 or not os.path.exists(raw_path):
            sys.stderr.write(tail(log))
            die(f"the {a.workload} run did not complete (exit {rc})", 4)
        with open(raw_path) as f:
            raw = json.load(f)
        spans = metrics.load_spans(args["spans"]) if a.trace else []
        e2e = {k: metrics.finite(v) for k, v in metrics.end_to_end(raw).items()}
        layer = {k: metrics.finite(v) for k, v in metrics.per_layer(raw, spans).items()}
        units = units_by_name()
        shown = layer if a.trace else e2e
        result = {
            "correct": raw["failed"] == 0,
            "attempted": raw["attempted"],
            "failed": raw["failed"],
            "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in shown.items()},
        }
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "result": result, "end_to_end": e2e, "per_layer": layer,
                       "errors": raw["errors"], "raw": raw}, f)
        if a.trace:
            shutil.copy(args["spans"], os.path.join(out_dir, name + ".spans.jsonl"))
        for e in raw["errors"]:
            print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(state, ignore_errors=True)


def units_by_name():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def load_result(path):
    with open(path) as f:
        return json.load(f)


COUNTERS = ["core.jobs", "core.tasks", "core.task_s", "core.shuffle_write_mb", "core.spill_mb"]


def compare(paths_a, paths_b):
    """Per workload: medians of set A and set B, end-to-end metrics first,
    then deterministic counters, then every other per-layer timing."""
    groups = {}
    for side, paths in (("a", paths_a), ("b", paths_b)):
        for p in paths:
            r = load_result(p)
            groups.setdefault(r["workload"], {"a": [], "b": []})[side].append(r)
    lines = []
    for w in sorted(groups):
        g = groups[w]
        if not g["a"] or not g["b"]:
            lines.append(f"{w}: results on one side only")
            continue

        def med(side, key, name):
            vals = [r[key][name] for r in g[side] if name in r.get(key, {})]
            return metrics.median(vals) if vals else None

        cells = []
        order = ([("end_to_end", n) for n in metrics.E2E] + [("per_layer", n) for n in COUNTERS]
                 + [("per_layer", n) for n in metrics.per_layer_names() if n not in COUNTERS])
        for key, n in order:
            va, vb = med("a", key, n), med("b", key, n)
            if va is None or vb is None or (va == 0 and vb == 0 and key == "per_layer"):
                continue
            delta = f"{(vb - va) / va * 100:+.1f}%" if va else "n/a"
            cells.append(f"{n}={va:.4g}->{vb:.4g}({delta})")
        lines.append(f"{w} [a:{len(g['a'])} b:{len(g['b'])}] " + " ".join(cells))
    print("\n".join(lines))


def main(argv):
    if argv and argv[0] == "compare":
        rest = argv[1:]
        if "--" not in rest:
            die("usage: run.py compare <a.json>... -- <b.json>...")
        i = rest.index("--")
        compare(rest[:i], rest[i + 1:])
        return 0
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
