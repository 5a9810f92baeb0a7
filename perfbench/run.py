#!/usr/bin/env python3
"""KG-build benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the engine plus the benchmark
(perfbench/build.sbt) when the sources changed, runs the workload in one
JVM (one client, closed loop, local[nproc]), checks the outputs, and
prints every metric with its unit; the last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}. Exits non-zero when
a correctness gate fails. See perfbench/README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["kg_build", "similarity_suite"]
DEADLINE_S = 170  # every run after the first build must end within 180 s
CPUS = os.cpu_count() or 1  # local[nproc]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on
    timeout and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt unless the stamp matches;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g -XX:-UsePerfData"
                       + " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    out_path = os.path.join(BUILD, "build.log")
    log("building engine + benchmark (sbt) ...")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 840, cwd=BENCH, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (sbt exit {rc})")
    cp = cps[-1]
    log(f"compiled in {time.time() - t0:.0f} s")
    # class-data-sharing archive from one short pass over the workloads'
    # code paths: every later JVM maps the Spark + engine classes instead
    # of loading them (session start 7 s -> 3 s on a 4-core host). A
    # build without it fails, so every run of a build starts the same way.
    jsa = os.path.join(BUILD, "app.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(BUILD, "work", "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(cp, ["--train-classes", "--cpus", str(CPUS), "--work", work,
                     "--out", os.path.join(work, "result.json")],
                work, "cds-training", time.time() + 600, [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(jsa):
        raise SystemExit("build failed: no class-data-sharing archive was recorded")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_jvm(cp, args, work, tag, deadline, jvm_opts=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_", "JAVA_TOOL_OPTIONS"))}
    env["GRAFT_ANN_INDEX_ROOT"] = os.path.join(work, "ann-index")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jsa = os.path.join(BUILD, "app.jsa")
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={jsa}"]
    cmd = (["java"] + opens + jvm_opts + ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"] +
           # heap committed and touched up front, like graft.Bench: page
           # faults on a growing heap otherwise land inside timed runs
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    with open(log_path, "w") as out:
        try:
            rc = run_group(cmd, max(10, deadline - time.time()), cwd=work, env=env,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc}); log: {log_path}")


def oracle_check(sim_dir, out_dir):
    """Per query with a DuckDB oracle: same columns, same row count, same
    values (row-sorted, floats within 1e-9 relative)."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sim_dir}/{t}.parquet/*.parquet')")
    errors = []

    def key(row):
        return tuple((v is None, str(v) if not isinstance(v, float) else f"{v:.9e}") for v in row)

    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            gcols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            exp_rel = con.execute(sql)
            ecols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:  # noqa: BLE001 — any failure is a gate failure
            errors.append(f"{name}: oracle compare failed: {e}")
            continue
        if sorted(gcols) != sorted(ecols):
            errors.append(f"{name}: columns {sorted(gcols)} vs oracle {sorted(ecols)}")
            continue
        order = sorted(gcols)
        gi, ei = [gcols.index(c) for c in order], [ecols.index(c) for c in order]
        got = sorted((tuple(r[i] for i in gi) for r in got), key=key)
        exp = sorted((tuple(r[i] for i in ei) for r in exp), key=key)
        if len(got) != len(exp):
            errors.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
            continue
        for a, b in zip(got, exp):
            same = all(x == y or (isinstance(x, (int, float)) and isinstance(y, (int, float))
                                  and x is not None and y is not None
                                  and abs(float(x) - float(y)) <= 1e-9 * max(1.0, abs(float(x)), abs(float(y))))
                       for x, y in zip(a, b))
            if not same:
                errors.append(f"{name}: row {a} vs oracle {b}")
                break
    return sorted(oracle), errors


def selftest(cp):
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(cp, ["--selftest", "--cpus", str(CPUS), "--work", work, "--out", out], work,
                "selftest", time.time() + 600)
        with open(out) as f:
            res = json.load(f)
        ok = res["correct"]
        for g in res["extra"]["gates"]:
            good = g["clean_passes"] and g["corruption_caught"]
            print(f"{'PASS' if good else 'FAIL'}  {g['gate']}: clean output passes={g['clean_passes']}, "
                  f"corrupted output caught={g['corruption_caught']}")
        sim = res["extra"]["sim_dir"]
        names, clean = oracle_check(sim, res["extra"]["oracle_clean_dir"])
        _, corrupt = oracle_check(sim, res["extra"]["oracle_corrupt_dir"])
        caught = {e.split(":")[0] for e in corrupt}
        for n in names:
            good = not any(e.startswith(n + ":") for e in clean) and n in caught
            ok = ok and good
            print(f"{'PASS' if good else 'FAIL'}  similarity_suite DuckDB oracle ({n}): clean output passes="
                  f"{not any(e.startswith(n + ':') for e in clean)}, corrupted output caught={n in caught}")
        for e in clean:
            print(f"      clean: {e}")
        print(json.dumps({"selftest_ok": ok}))
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala/graft — "
            "run from a full checkout of the repository")
        return 2
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    cp, built = build()
    if a.selftest:
        return selftest(cp)

    # a run that had to build gets its full budget after the build
    deadline = (time.time() if built else started) + DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cpus", str(CPUS), "--work", work, "--out", out,
                     "--trace-dir", os.path.join(BUILD, "traces")],
                work, tag, deadline)
        with open(out) as f:
            res = json.load(f)
        extra = res["extra"]
        errors = list(extra["errors"])
        if extra.get("oracle_dir"):
            names, oerr = oracle_check(os.path.join(work, "sim"), extra["oracle_dir"])
            log(f"DuckDB oracle: {len(names)} queries compared ({', '.join(names)}), {len(oerr)} mismatches")
            errors += [f"oracle: {e}" for e in oerr]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = bool(res["correct"]) and not errors
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"client=1 closed-loop local[{CPUS}]")
    print(f"inputs: {extra['inputs']}")
    print(f"machine: cpu_loop_s={extra['cpu_loop_s']} memcpy_gb_per_s={extra['memcpy_gb_per_s']}")
    print(f"run cpu: {extra['cpu_samples']}")
    print(f"runs: {extra['run_samples']} traced: {extra['traced_samples']} "
          f"input generation: {extra['generate_samples']} first run: {extra['prepare_s']}")
    for k, v in res["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if not a.trace:
        # wall-clock figures, printed but not gated (see perfbench/README.md)
        print(f"  run_s = {extra['run_s']:.6g} s (not gated)")
        print(f"  rows_per_s = {extra['rows_per_s']:.6g} 1/s (not gated)")
        print(f"  cpu_s = {extra['cpu_s']:.6g} s (not gated)")
    print(f"  failed_frac = {extra['failed_frac']} ratio (of {res['attempted']} runs)")
    for e in errors:
        print(f"GATE FAILED: {e}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
