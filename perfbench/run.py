#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload etl_incremental|query_mix \\
        --seed N --seconds S --trace 0|1 [--tables DIR]

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (`perfbench/build.sbt`); later runs
reuse the build while the sources it was built from are unchanged.
Every input is generated from the seed under `perfbench/.work`, which
is removed again at the end.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics, or with `--trace 1` the
per-layer ones, as `BENCHMARK.json` names them). The line before it is
the run's ambient-load witness and the number of timed samples behind
each timing.
"""
import argparse
import glob
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175
HEAP = "3g"

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


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def metric_units(kind):
    """Name → unit of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def source_key():
    """Hash of every file the build reads from the checkout: the build
    definitions and the program's and the harness's main sources."""
    files = []
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt")]
        files += sorted(glob.glob(os.path.join(base, "project", "*.*")))
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs)
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """The harness classpath. sbt (re)builds the program and the harness
    whenever their sources differ from the ones the cached classpath was
    built from."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    key_file = os.path.join(BUILD, "classpath.key")
    key = source_key()
    if os.path.exists(cp_file) and os.path.exists(key_file):
        with open(key_file) as f:
            if f.read() == key:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(BUILD, "build.log")
    log("building program and harness with sbt")
    with open(log_path, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export perfbench/Runtime/fullClasspath"],
                         time.time() + 840, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.writelines(l + "\n" for l in lines[-30:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(key_file, "w") as f:
        f.write(key)
    return lines[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_incremental", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tables", help="query_mix: read these tables instead "
                    "of generating them (for comparing the generated ones "
                    "with another data set)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"no graft sources under {ROOT}: run from a full checkout")
    units = metric_units("per_layer" if a.trace else "end_to_end")
    layer_keys = metric_units("per_layer")

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    start = time.time()
    try:
        # set-up starts here: input generation counts towards setup_s
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--t0-ms", str(int(start * 1000)),
                "--layer-keys", ",".join(layer_keys)]
        tables = os.path.join(work, "tables")
        if a.workload == "query_mix":
            sys.path.insert(0, HERE)
            if a.tables:
                tables = os.path.abspath(a.tables)
            else:
                import gen_tables
                gen_tables.generate(tables, a.seed)
            args += ["--tables", tables]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        cmd = (["java"] + [f"--add-opens={o}=ALL-UNNAMED" for o in ADD_OPENS]
               + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "graftbench.Main"] + args)
        rc = run_bounded(cmd, start + DEADLINE_S, cwd=work, env=env,
                         stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0:
            sys.exit(f"harness exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            r = json.load(f)
        failed = r["failed"]
        if a.workload == "query_mix":
            import oracle
            bad = oracle.check(tables,
                               os.path.join(work, "query-out"),
                               os.path.join(work, "oracle_sql.json"))
            for name, why in sorted(bad.items()):
                log(f"{name} failed the oracle check: {why}")
                failed += 1 + r["query_execs"].get(name, 0)
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, f"trace-{a.workload}.json"))
            values = r["layers"]
        else:
            values = r["e2e"]
        missing = set(units) - set(values)
        if missing:
            sys.exit(f"harness did not report {sorted(missing)}")
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in sorted(units.items())}
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"ambient": r["ambient"], "samples": r["samples"]}))
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
