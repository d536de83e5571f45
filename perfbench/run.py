#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline), copies the compiled classes into
perfbench/target/build-<hash>, keyed by a hash of every source and build
file, and caches the classpath; later runs start the JVM directly on
that copy, so a later build of the engine at another revision (sbt at
the root writes the same target/) cannot change what they run. The last stdout line is the run's JSON result;
the full record goes to perfbench/results/<workload>-seed<n>-trace<t>.json
(and the spans of a traced run next to it, as .spans.jsonl).

    python3 perfbench/run.py --repro-follow-after-extract

reproduces the known defect recorded in perfbench/README.md instead.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(BENCH_DIR, "target")
RESULTS = os.path.join(BENCH_DIR, "results")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_result_line(line):
    """The run's result object from one output line, or None. Accepts the
    bare line and the same line behind an sbt log prefix such as '[info] '."""
    text = line.strip()
    if text.startswith("[") and "] " in text and not text.startswith("[{"):
        text = text.split("] ", 1)[1].strip()
    if not text.startswith("{"):
        return None
    try:
        obj = json.loads(text)
    except ValueError:
        return None
    if isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= obj.keys():
        return obj
    return None


def source_files(root):
    """Every file the build reads: the engine's and the benchmark's."""
    picked = []
    for top in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(root, top)):
            picked.append(top)
    for tree in ("src/main", "perfbench/src/main"):
        for dirpath, _, names in os.walk(os.path.join(root, tree)):
            for n in names:
                picked.append(os.path.relpath(os.path.join(dirpath, n), root))
    return sorted(picked)


def source_hash(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, cwd, env, timeout, capture):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and always wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def classpath(root):
    """Build if the sources changed since the cached build; return the
    runtime classpath, whose class directories are this build's copy."""
    stamp = source_hash(root)
    build_dir = os.path.join(TARGET, f"build-{stamp[:16]}")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt is not on PATH")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    code, out = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=sbt_env(), timeout=BUILD_TIMEOUT_S, capture=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {code}")
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    for old in os.listdir(TARGET):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(TARGET, old))
    cp = copy_class_dirs(lines[-1].strip(), root, build_dir)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def copy_class_dirs(cp, root, build_dir):
    """`cp` with every directory inside the checkout replaced by a copy
    under `build_dir`; jars and directories outside stay as they are."""
    inside = os.path.realpath(root) + os.sep
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry) and os.path.realpath(entry).startswith(inside):
            copy = os.path.join(build_dir, f"classes-{i}")
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    return os.pathsep.join(entries)


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repro-follow-after-extract", action="store_true")
    a = ap.parse_args(argv)
    if not a.repro_follow_after_extract and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        log(f"{root} holds no engine sources (build.sbt, src/main/scala/graft); "
            "run from the root of a checkout")
        return 2

    try:
        cp = classpath(root)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 3

    tmp = os.path.join(TARGET, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    if a.repro_follow_after_extract:
        main_class, args = "perfbench.ReproFollowAfterExtract", []
        out_file = None
    else:
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        out_file = stem + ".json"
        main_class = "perfbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--checkout", root, "--results", out_file]
        if a.trace:
            args += ["--spans", stem + ".spans.jsonl"]
    try:
        code, out = run_bounded(java_cmd(cp, main_class, args, tmp), cwd=root,
                                env=dict(os.environ), timeout=RUN_TIMEOUT_S, capture=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if out_file is None:
        sys.stdout.write(out)
        return code
    result = None
    for line in out.splitlines():
        parsed = parse_result_line(line)
        if parsed is not None:
            result = parsed
        elif line.strip():
            sys.stderr.write(line + "\n")
    if result is None:
        log(f"the run printed no result (exit code {code})")
        return code or 5
    if a.trace:
        add_trace_overhead(out_file)
    print(json.dumps(result), flush=True)
    return code


def add_trace_overhead(traced_file):
    """Tracing overhead: the traced run's end-to-end figures minus those of
    the untraced run of the same workload and seed, when one exists."""
    untraced_file = traced_file.replace("-trace1.json", "-trace0.json")
    if not os.path.isfile(untraced_file):
        return
    with open(traced_file) as f:
        traced = json.load(f)
    with open(untraced_file) as f:
        untraced = json.load(f)
    if traced.get("fingerprints") != untraced.get("fingerprints"):
        return
    traced["trace_overhead"] = {
        k: {"value": v["value"] - untraced["end_to_end"][k]["value"], "unit": v["unit"]}
        for k, v in traced["end_to_end"].items()
        if isinstance(v.get("value"), (int, float))
        and isinstance(untraced["end_to_end"].get(k, {}).get("value"), (int, float))}
    with open(traced_file, "w") as f:
        json.dump(traced, f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
