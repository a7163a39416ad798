#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source,
then runs one workload in one JVM.

Run from the repository root:

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py compare --parent ../parent --change . --pairs 10

A run prints a `context` line (seed, revision, nproc, load average, JVM and
Spark versions, Spark conf), a human summary, and as its last stdout line
one JSON object with the keys correct, attempted, failed and metrics:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Build output and run state live in .bench_build/.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads: the engine's sources and build, and the
    benchmark's."""
    bench = os.path.relpath(HERE, root)
    fixed = ["build.sbt", "project/build.properties",
             f"{bench}/build.sbt", f"{bench}/project/build.properties"]
    out = [f for f in fixed if os.path.isfile(os.path.join(root, f))]
    for top in ("src/main", f"{bench}/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the engine and the benchmark with sbt when their sources
    changed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        raise SystemExit("perfbench: no engine sources here (build.sbt, src/main); "
                         "run from the repository root")
    files = source_files(root)
    want = stamp(root, files)
    stamp_path = os.path.join(root, BUILD, "stamp")
    cp_path = os.path.join(root, BUILD, "classpath.txt")
    if os.path.isfile(stamp_path) and os.path.isfile(cp_path):
        with open(stamp_path) as fh:
            if fh.read().strip() == want:
                with open(cp_path) as fh:
                    return fh.read().strip(), want
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    # offline: the build resolves only from the local ivy/coursier caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.offline=true", "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    with open(cp_path, "w") as fh:
        fh.write(cp)
    with open(stamp_path, "w") as fh:
        fh.write(want)
    return cp, want


def revision(root, src_stamp):
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode == 0 and rev.stdout.strip():
            return rev.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + src_stamp[:16]


def run_once(args):
    root = os.getcwd()
    if "/data/" in os.path.join(root, BUILD, ""):
        # the format layer relativizes fragment paths at the first "/data/"
        # of the absolute path (see NOTES.md, known defect)
        raise SystemExit(f"perfbench: cannot run under a path containing /data/: {root}")
    cp, src_stamp = build(root)
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work])
    env = dict(os.environ, PERFBENCH_REV=revision(root, src_stamp))
    child = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise SystemExit("perfbench: run timed out")
    code = child.returncode
    lines = out.rstrip("\n").split("\n")
    last = lines[-1] if lines else ""
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(last or "")
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if code != 0 or not ok:
        if last:
            print(last, flush=True)
        raise SystemExit(f"perfbench: run failed (exit {code})")
    print(last, flush=True)


# ---------------------------------------------------------------- compare

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """The gain rule: the change wins at least 9/10 of the pairs and the
    medians differ by more than the parent's IQR. A metric whose spread
    exceeds its bound is unresolved, unless every change run beats every
    parent run: then it is a gain if it passes the gain rule, and
    not-worse if it does not."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    iqr = p3 - p1
    spread = iqr / abs(pm) if pm else float("inf")
    delta = sign * (cm - pm)
    gain = wins >= 0.9 * len(parent) and delta > iqr
    if bound is not None and spread > bound:
        every = all(sign * (c - p) > 0 for c in change for p in parent)
        v = ("gain" if gain else "not-worse") if every else "unresolved"
    elif gain:
        v = "gain"
    elif bound is not None and -delta > bound * abs(pm):
        v = "regression"
    else:
        v = "same"
    return {"verdict": v, "wins": wins, "pairs": len(parent), "parent_median": pm,
            "parent_iqr": iqr, "change_median": cm, "change_iqr": c3 - c1}


def bench_hash(tree):
    """Hash of a tree's benchmark code: both sides must run the same."""
    bench = os.path.join(tree, "perfbench")
    files = [os.path.relpath(os.path.join(d, f), bench)
             for d, _, fs in os.walk(os.path.join(bench, "src")) for f in fs]
    files += ["run.py", "build.sbt"]
    return stamp(bench, sorted(files))


def compare(args):
    """Each side runs its own tree's perfbench/run.py (its own engine build);
    the benchmark code must be the same on both sides."""
    if bench_hash(args.parent) != bench_hash(args.change):
        raise SystemExit("compare: the two trees' perfbench code differs; "
                         "measure both with the same benchmark")
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    rows = []
    for w in names:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                tree = getattr(args, side)
                out = subprocess.run(
                    [sys.executable, os.path.join("perfbench", "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                    cwd=tree, capture_output=True, text=True)
                last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
                try:
                    runs[side].append(json.loads(last))
                except ValueError:
                    raise SystemExit(f"compare: {side} run failed on {w} seed {seed}:\n"
                                     + out.stderr[-2000:])
        row = {"workload": w,
               "correct": all(r["correct"] for s in runs.values() for r in s),
               "failed": {s: sum(r["failed"] for r in runs[s]) for s in runs}}
        for m in metrics:
            get = lambda s: [r["metrics"][m["name"]]["value"] for r in runs[s]]
            row[m["name"]] = verdict(get("parent"), get("change"), m["better"], m.get("bound"))
        if row["failed"]["change"] > row["failed"]["parent"]:
            for m in metrics:
                if row[m["name"]]["verdict"] == "gain":
                    row[m["name"]]["verdict"] = "void: more failed calls"
        rows.append(row)
        cells = " ".join(f"{m['name']}={row[m['name']]['verdict']}" for m in metrics)
        print(f"{w}: correct={row['correct']} {cells}", flush=True)
    print(json.dumps(rows))


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        p = argparse.ArgumentParser(prog="run.py compare")
        p.add_argument("--parent", required=True, help="checkout of the parent commit")
        p.add_argument("--change", required=True, help="checkout of the change")
        p.add_argument("--workloads", default="")
        p.add_argument("--pairs", type=int, default=10,
                       help="alternating parent/change pairs per workload (at least 10)")
        p.add_argument("--seed-base", type=int, default=1,
                       help="first seed; use a range not used while writing the change "
                            "(e.g. 1001) for a held-out check")
        args = p.parse_args(sys.argv[2:])
        if args.pairs < 10:
            p.error("--pairs must be at least 10: the gain rule counts wins out of ten pairs")
        compare(args)
        return
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run_once(p.parse_args())


if __name__ == "__main__":
    main()
