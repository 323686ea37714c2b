#!/usr/bin/env python3
"""Benchmark of the graft.tlc pipeline.

    python3 perfbench/run.py --workload rebuild|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and writes the serve workload's
warehouse with the program; later runs reuse both while the sources are
unchanged. Everything the benchmark writes stays in the checkout, under
.bench_build/perfbench/ (sbt's own target/ dirs aside). The last line of
stdout is the result JSON object. perfbench/README.md describes the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks
import gen

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"  # fixed, so results do not depend on the box's memory
COPIES = 1  # replicas of the 22,320-trip pattern in the input
FIXTURE_SEED = 0  # input seed of the warehouse the serve workload reads
RUN_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 500  # with the fixture and the run, under 900 s


def die(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)


def source_stamp():
    """Hash of everything the build and the fixture depend on."""
    h = hashlib.sha256(f"{HEAP} {COPIES} {FIXTURE_SEED}".encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             HERE]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "__pycache__"))
            files += [os.path.join(d, n) for n in names if not n.endswith(".md")]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and write the serve fixture, unless the stamped build
    is current; return (classpath, jvm options)."""
    stamp_file = os.path.join(STATE, "build.stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    fixture = os.path.join(STATE, "fixture")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isfile(launch) and os.path.isdir(os.path.join(fixture, "warehouse")):
        lines = open(launch).read().splitlines()
        return lines[0], [l for l in lines[1:] if l]

    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    # digests stored by runs of an earlier build are not comparable
    shutil.rmtree(os.path.join(STATE, "digests"), ignore_errors=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    env.pop("SBT_OPTS", None)
    # sbt's own state and scratch files go under the checkout too. The options
    # go on the command line, not in SBT_OPTS, which sbt splits at spaces.
    # sbt binds a unix socket under its tmpdir, whose path must fit in 108
    # bytes; in a checkout with a longer path, forcestart boots without it.
    sbt_home = os.path.join(STATE, "sbt")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.server.forcestart=true", "-J-Xmx2g",
            f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.ivy.home={sbt_home}/ivy2",
            f"-Djava.io.tmpdir={sbt_home}/tmp"]
    os.makedirs(os.path.join(sbt_home, "tmp"), exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    build_log = os.path.join(STATE, "build.log")
    with open(build_log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", *opts, "-Dsbt.log.noformat=true", "compile", "launchFile"],
                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(launch):
        sys.stderr.write(open(build_log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {build_log}", 3)
    lines = open(launch).read().splitlines()
    cp, jvm = lines[0], [l for l in lines[1:] if l]

    # The serve workload's warehouse: one Cli.runPipeline over the fixture seed.
    shutil.rmtree(fixture, ignore_errors=True)
    raw, _, _ = gen.write(os.path.join(fixture, "in"), FIXTURE_SEED, COPIES)
    run_jvm(cp, jvm, ["--workload", "rebuild", "--seconds", "0", "--trace", "0"], raw,
            os.path.join(fixture, "warehouse"), "fixture")
    # a rebuild run of the fixture seed compares its warehouse with this one
    digest_check("rebuild", FIXTURE_SEED,
                 checks.warehouse_digest(os.path.join(fixture, "warehouse")))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, jvm


def run_jvm(cp, jvm, args, raw, warehouse, name):
    """Run graft.perfbench.Main in one JVM; return its measurement object."""
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", *jvm, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main", *args,
           "--yellow", raw["yellow"], "--green", raw["green"], "--hvfhv", raw["hvfhv"],
           "--zones", raw["zones"], "--warehouse", warehouse,
           "--sql", os.path.join(ROOT, "sql", "analytics"), "--out", STATE]
    jvm_log = os.path.join(STATE, f"jvm-{name}.log")
    try:
        with open(jvm_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"{name} exceeded {RUN_TIMEOUT_S} s; log in {jvm_log}", 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(jvm_log) as fh:
        lines = fh.readlines()
    sys.stderr.writelines(l for l in lines if l.startswith(("[perfbench]", "[timing]")))
    result = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not result:
        sys.stderr.writelines(lines[-40:])
        die(f"{name} failed (exit {proc.returncode}); log in {jvm_log}", 5)
    return json.loads(result[-1])


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(path)
               for f in names)


def digest_check(workload, seed, digest):
    """Compare with the digest an earlier run of this workload and seed left
    in this checkout, or, on the first such run, store this one for later
    runs; return (check name, result)."""
    path = os.path.join(STATE, "digests", f"{workload}-{seed}.txt")
    text = "\n".join(digest)
    if os.path.isfile(path):
        same = open(path).read() == text
        if not same:
            log(f"digest differs from {path}:\n{text}")
        return "warehouse digest equals an earlier run's of this seed", same
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    return "warehouse digest stored (first run of this seed, nothing compared)", True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["rebuild", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/tlc/Cli.scala", "sql/analytics"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"program source missing: {need} (run from a checkout of the repository)", 2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is required", 2)
    os.makedirs(STATE, exist_ok=True)
    cp, jvm = build()

    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", a.trace,
            "--seed", str(a.seed)]
    t0 = time.perf_counter()
    if a.workload == "serve":
        # The fixture warehouse is read-only input.
        fixture = os.path.join(STATE, "fixture")
        raw = {k: os.path.join(fixture, "in", v) for k, v in (
            ("yellow", "yellow.parquet"), ("green", "green.parquet"),
            ("hvfhv", "hvfhv.parquet"), ("zones", "zones.csv"))}
        warehouse = os.path.join(fixture, "warehouse")
        m = run_jvm(cp, jvm, args, raw, warehouse, a.workload)
        results = dict(m["checks"])
        wh_bytes = dir_bytes(warehouse)
        gen_s = 0.0
    else:
        work = os.path.join(STATE, "work")
        shutil.rmtree(work, ignore_errors=True)
        try:
            raw, trips, raw_bytes = gen.write(os.path.join(work, "in"), a.seed, COPIES)
            gen_s = time.perf_counter() - t0
            log(f"input: {trips} trips, {raw_bytes} bytes, seed {a.seed}")
            warehouse = os.path.join(work, "warehouse")
            m = run_jvm(cp, jvm, args, raw, warehouse, a.workload)
            results = dict(m["checks"])
            fact, keys = checks.fact_rows(warehouse), checks.distinct_raw_trips(raw)
            log(f"fact rows {fact}, distinct raw trip keys {keys}")
            results["fact rows = distinct raw trip keys"] = fact == keys
            name, ok = digest_check(a.workload, a.seed, checks.warehouse_digest(warehouse))
            results[name] = ok
            wh_bytes = dir_bytes(warehouse)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    log(f"run wall {time.perf_counter() - t0:.1f} s")

    for name, ok in results.items():
        log(f"check {name}: {'ok' if ok else 'FAILED'}")
    correct = all(results.values())
    if a.trace == "1":
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m["layers"].items()}
    else:
        metrics = {
            "setup_s": {"value": gen_s + m["setup_s"], "unit": "s"},
            "op_s": {"value": quantile(m["ops"], 0.5), "unit": "s"},
            "request_p50_s": {"value": quantile(m["requests"], 0.5), "unit": "s"},
            "warehouse_mb": {"value": wh_bytes / 1e6, "unit": "MB"},
        }
    print(json.dumps({"correct": correct, "attempted": m["attempted"], "failed": m["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
