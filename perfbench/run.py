#!/usr/bin/env python3
"""Layer-attributed benchmark for graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 5 --trace 0

The script
  1. builds graft and the benchmark with sbt (perfbench/build.sbt), unless
     the sources are unchanged since the last build;
  2. makes the workload's data: sf0.1 ships in perfbench/data; the 10x
     replica is generated once with graft.ScaleUp into perfbench/.data and
     its row counts are checked;
  3. runs one JVM (perfbench.Main) that times the workload in a closed loop
     and checks every query's output fingerprint;
  4. prints the end-to-end metrics (--trace 0) or the per-layer metrics
     (--trace 1) as one JSON object on the last line of stdout.

The seed permutes the query order of every pass; the data never changes.
Each run writes perfbench/results/<workload>-seed<seed>-trace<t>.json, and a
traced run also writes the spans it recorded next to it.

    python3 perfbench/run.py --record-expected sf0.1

rewrites perfbench/expected/<dataset>.tsv from the outputs as they are now;
only do that for outputs that tools/check_oracles.py accepts.
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
BUILD = os.path.join(HERE, ".build")
GEN = os.path.join(HERE, ".data")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

RUN_LIMIT_S = 175  # whole run, build excluded
BUILD_LIMIT_S = 840
HEAP = "4g"
YOUNG = "1g"

# Spark on JDK 17 outside spark-submit (as in the parent build's javaOptions)
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


def fail(msg, code):
    log(msg)
    sys.exit(code)


def run_group(cmd, limit, env=None, cwd=ROOT, stdout=None):
    """Run cmd in its own process group; kill the group on timeout, and
    when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)

    def terminate(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {limit:.0f} s: {' '.join(cmd[:3])} ...", 4)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    return p.returncode, out


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({need} missing under {ROOT})", 3)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log("building graft and the benchmark with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    code, out = run_group(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, env=env, cwd=HERE, stdout=subprocess.PIPE)
    text = out.decode(errors="replace")
    if code != 0:
        sys.stderr.write(text[-4000:])
        fail("build failed", 3)
    cps = [l for l in text.splitlines() if l.startswith("/") and ".jar" in l]
    if not cps:
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return cps[-1].strip()


def java(cp, main, args, limit, scratch):
    """Run one JVM with its temp and shuffle dirs under `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = local
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, main] + args)
    code, _ = run_group(cmd, limit, env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"{main} exited with code {code}", 4)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def read_tsv(path):
    with open(path) as f:
        return [l.rstrip("\n").split("\t") for l in f
                if l.strip() and not l.startswith("#")]


def base_data():
    """The committed sf0.1 tables, checked against their digests."""
    d = os.path.join(HERE, "data", "sf0.1")
    with open(os.path.join(HERE, "data", "sf0.1.sha256")) as f:
        for line in f:
            digest, name = line.split()
            p = os.path.join(d, name)
            if not os.path.exists(p) or sha256(p) != digest:
                fail(f"data file {p} is missing or changed", 3)
    return d


def replica(cp, src):
    """The 10x replica: generated once, its row counts checked, then reused."""
    out = os.path.join(GEN, "sf0.1x10")
    stamp = os.path.join(GEN, "sf0.1x10.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        print(f"replica_gen_s {s['gen_s']:.2f} s (generated by an earlier run, reused)")
        return out
    scratch = os.path.join(WORK, "gen")
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(GEN, exist_ok=True)
    t0 = time.time()
    java(cp, "graft.ScaleUp", [src, out, "10"], BUILD_LIMIT_S, scratch)
    gen_s = time.time() - t0
    counts = {}
    for name, path in (("base", src), ("replica", out)):
        res = os.path.join(scratch, f"{name}.tsv")
        java(cp, "perfbench.Main", ["--count-rows", "--data", path, "--result", res],
             RUN_LIMIT_S, scratch)
        counts[name] = {t: int(n) for t, n in read_tsv(res)}
    shutil.rmtree(scratch, ignore_errors=True)
    for t, n in counts["base"].items():
        want = n if t in ("region", "nation") else 10 * n
        if counts["replica"].get(t) != want:
            fail(f"replica {t}: {counts['replica'].get(t)} rows, expected {want}", 3)
    with open(stamp, "w") as f:
        json.dump({"gen_s": gen_s, "rows": counts["replica"]}, f, indent=1)
    print(f"replica_gen_s {gen_s:.2f} s (generated by this run)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", choices=("sf0.1", "sf0.1x10"))
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)

    def queries_of(w):
        q = workloads[w]["queries"]
        return workloads[q]["queries"] if isinstance(q, str) else q

    if a.record_expected is None and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(workloads)}", 2)

    cp = build()
    src = base_data()
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        if a.record_expected:
            data = src if a.record_expected == "sf0.1" else replica(cp, src)
            qs = sorted({q for w in workloads for q in queries_of(w)
                         if workloads[w]["data"] == a.record_expected})
            out = os.path.join(HERE, "expected", f"{a.record_expected}.tsv")
            java(cp, "perfbench.Main",
                 ["--fingerprint-only", "--queries", ",".join(qs), "--data", data,
                  "--result", out], BUILD_LIMIT_S, scratch)
            log(f"wrote {out}")
            return
        w = workloads[a.workload]
        data = src if w["data"] == "sf0.1" else replica(cp, src)
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        args = ["--queries", ",".join(queries_of(a.workload)), "--data", data,
                "--expected", os.path.join(HERE, "expected", f"{w['data']}.tsv"),
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--min-passes", str(w["min_passes"]),
                "--trace", str(a.trace), "--result", stem + ".json",
                "--scratch", os.path.join(scratch, "tmp"),
                "--scratch", os.path.join(scratch, "local")]
        if a.trace:
            args += ["--spans", stem + ".spans.json"]
        java(cp, "perfbench.Main", args, RUN_LIMIT_S, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    with open(stem + ".json") as f:
        r = json.load(f)
    for c in r["checks"]:
        if not c["ok"]:
            log(f"output check failed: {c['query']} rows={c['rows']} hash={c['hash']}"
                f" expected rows={c['expected_rows']} hash={c['expected_hash']}")
    e2e = r["end_to_end"]
    for k, m in e2e.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"query_tail_s is the Harrell-Davis p{r['query_tail_percentile']:.1f} of "
          f"{r['query_tail_samples']} timed executions")
    print(f"timed passes {r['timed_passes']} in {r['timed_window_s']:.2f} s; "
          f"result file {os.path.relpath(stem + '.json', ROOT)}")
    if a.trace:
        layers = r["per_layer"]
        for k, m in layers.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
        metrics = layers
    else:
        metrics = {k: v for k, v in e2e.items() if k != "failed_frac"}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
