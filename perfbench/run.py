#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_mix|corpus_mix|table_rw \
      --seed N --seconds S --trace 0|1 [--record-digests]

Steps: compile the program and the harness from source into
.perfbench/build (skipped when the sources are unchanged), generate the
inputs from the seed, run the workload in one forked JVM on local[n],
check every output, print one JSON object as the last line of stdout.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        return ""


SPARK_JARS = _spark_jars()
REF_SEED = 0
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))
    return out


def compile_to(dest, srcs, classpath):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath",
           classpath] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        die("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build():
    """Compile the program and the harness unless the sources' hash matches
    the last build."""
    prog = sources("src/main/scala")
    bench = sources("perfbench/src")
    if not prog:
        die("no program sources under src/main/scala")
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    jars = os.path.join(SPARK_JARS, "*")
    compile_to(os.path.join(out, "classes"), prog, jars)
    compile_to(os.path.join(out, "bench"), bench,
               jars + os.pathsep + os.path.join(out, "classes"))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def heap():
    """Half of MemTotal, clamped to [2, 8] GiB (the tier-1 test sizing)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(build_dir, run_dir, args):
    cp = os.pathsep.join([os.path.join(build_dir, "bench"),
                          os.path.join(build_dir, "classes"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(SPARK_JARS, "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData"] + opens +
           # a fixed-size heap: peak RSS then tracks what the program
           # retains, not when the collector chose to grow the heap
           [f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            tail = [l for l in lf.read().splitlines()
                    if " INFO " not in l and " WARN " not in l][-40:]
        die(f"workload process failed ({rc}):\n" + "\n".join(tail))


def check_queries(res, in_dir, run_dir, record):
    """DuckDB oracle comparisons and recorded-digest comparisons; returns
    (names of queries that failed a check, notes)."""
    digest_file = os.path.join(HERE, "digests.json")
    digests = json.load(open(digest_file)) if os.path.exists(digest_file) else {}
    con = oracle.connect(in_dir)
    bad, notes = [], []
    for name, c in sorted(res.get("checks", {}).items()):
        if c["kind"] == "oracle":
            problems = oracle.check(con, c["sql"], os.path.join(run_dir, "check", name))
        elif c["kind"] == "digest":
            problems = [] if c["cold"] == c["warm"] else [
                f"cold digest {c['cold']} != warm {c['warm']}"]
            ref, want = c.get("ref"), digests.get(name)
            if ref is not None and record:
                # a digest that differs between recordings is nondeterministic
                digests[name] = ref if name not in digests or want == ref else None
            elif ref is not None and want not in (None, ref):
                problems.append(f"reference digest {ref} != recorded {want}")
        else:
            problems = [c.get("error", "check failed")]
        if problems:
            bad.append(name)
            notes.append(f"{name}: {problems[0]}"[:300])
    if record:
        with open(digest_file, "w") as f:
            json.dump(dict(sorted(digests.items())), f, indent=1)
            f.write("\n")
    return bad, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    build_dir = build()
    refcheck = a.trace == 1 or a.record_digests
    ref_dir = os.path.join(WORK, f"ref-{REF_SEED}")
    if refcheck and not os.path.exists(ref_dir):
        shutil.rmtree(ref_dir + ".tmp", ignore_errors=True)
        gen.write(ref_dir + ".tmp", REF_SEED)
        os.rename(ref_dir + ".tmp", ref_dir)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        in_dir = os.path.join(run_dir, "in")
        gen.write(in_dir, a.seed)
        out = os.path.join(run_dir, "result.json")
        run_jvm(build_dir, run_dir, {
            "workload": a.workload, "in": in_dir, "ref": ref_dir, "run": run_dir,
            "out": out, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "refcheck": int(refcheck),
            "cpus": cpus(),
            "queries": ",".join(json.load(open(os.path.join(HERE, "queries.json")))
                                .get(a.workload, []))})
        res = json.load(open(out))
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        shutil.copy(out, os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}.json"))
        bad, notes = check_queries(res, in_dir, run_dir, a.record_digests)
        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(
                WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    by_query = res.get("ops_by_query", {})
    wrong = res.get("wrong", 0) + sum(by_query.get(n, 1) for n in bad)
    attempted = max(1, res["attempted"])
    failed = res["thrown"] + wrong
    values = {**res, **res.get("trace", {}), "error_rate": failed / attempted}
    metrics = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    report = {m["name"]: {"value": float(values.get(m["name"], 0.0) or 0.0),
                          "unit": m["unit"]} for m in metrics}
    detail = {k: round(v, 3) if isinstance(v, float) else v for k, v in res.items()
              if k.endswith(("_ms", "_samples", "_s")) or k in ("passes", "drains")}
    print(f"perfbench: {json.dumps(detail)}", file=sys.stderr)
    for line in res.get("errors", [])[:10] + notes[:10]:
        print(f"perfbench: {line}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} attempted={attempted} "
          f"thrown={res['thrown']} wrong={wrong} checks_failed={len(bad)} "
          f"samples={res.get('op_samples')} passes={res.get('passes')} "
          f"steady_s={res.get('steady_s'):.2f}", file=sys.stderr)
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": report}))


if __name__ == "__main__":
    main()
