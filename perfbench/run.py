#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program from src/main/scala and the
harness from perfbench/src with the Scala compiler shipped in Spark's jars
(once per source digest, into .bench_build), generates the workload's inputs,
runs the harness JVM, checks every output apart from the program, and prints
one JSON line: correct, attempted, failed and the metrics (end-to-end with
--trace 0, per-layer with --trace 1).

Workloads (see perfbench/README.md):
  query_suite   a fixed sample of the declared queries at sf0.01, in an
                order drawn from the seed
  qpe_realtime  the streaming QPE daemon over landed radar volumes whose
                rain fields are drawn from the seed
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt builds the
    project against (its unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return ""
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
JVM_TIMEOUT_S = 150
sys.path.insert(0, HERE)

WORKLOADS = ("query_suite", "qpe_realtime")
FAMILIES = ("llm", "ml", "operators", "functions")

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "cpu_s": "s", "product_mb": "MB"}

# JVM flags the project's build sets for Spark on JDK 17 (build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC", "-Xmx4g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(srcs, out, classpath):
    """Compile with the Scala compiler in Spark's jars into `out`, once per
    source digest."""
    h = hashlib.sha256(classpath.encode())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(s.encode() + f.read())
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(SPARK_JARS, j) for j in
                        ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar",
                         "scala-reflect-2.13.17.jar"))
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile],
                       capture_output=True, text=True)
    if r.returncode != 0:
        fail("compilation failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src) or not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        fail("needs the program's sources (src/main/scala) and Spark's jars")
    os.makedirs(BUILD, exist_ok=True)
    jars = ":".join(sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                           if j.endswith(".jar")))
    program = os.path.join(BUILD, "classes")
    harness = os.path.join(BUILD, "harness")
    scalac(sources(main_src), program, jars)
    scalac(sources(os.path.join(HERE, "src")), harness, f"{program}:{jars}")
    return f"{harness}:{program}:{jars}"


def make_inputs(workload, seed, work):
    import inputs
    t0 = time.monotonic()
    if workload == "qpe_realtime":
        inputs.write_radar(seed, os.path.join(work, "radar"))
    else:
        inputs.write_tables(os.path.join(work, "data"))
    return time.monotonic() - t0


def suite():
    """[(query, family)] of query_suite.txt."""
    with open(os.path.join(HERE, "query_suite.txt")) as f:
        return [tuple(line.split()[:2]) for line in f if line.strip() and not line.startswith("#")]


def run_jvm(classpath, workload, seed, seconds, trace, work):
    args = [f"workload={workload}", f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
            f"work={work}", f"cpus={os.cpu_count()}"]
    if workload == "qpe_realtime":
        args.append(f"radar={work}/radar")
    else:
        args += [f"data={work}/data", "queries=" + ",".join(f"{q}:{fam}" for q, fam in suite())]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["java"] + JVM_FLAGS + ["-cp", classpath, "perfbench.Harness"] + args,
                             stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; log in {log}")
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    with open(os.path.join(work, "run.json")) as f:
        run = json.load(f)
    ops = []
    with open(os.path.join(work, "ops.tsv")) as f:
        for line in f:
            name, rnd, lat, rows, nbytes, digest, err = line.rstrip("\n").split("\t")
            ops.append(dict(name=name, round=int(rnd), latency=float(lat), rows=int(rows),
                            bytes=int(nbytes), digest=digest, error=err))
    return run, ops


def check_queries(work, ops):
    """{query: reason} for every query whose output is wrong."""
    import checks
    data = os.path.join(work, "data")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = checks.connect(data)
    key = checks.data_digest(data)
    lineitem_rows = con.sql("SELECT count(*) FROM lineitem").fetchone()[0]
    # m9_intercomparison fits on the lineitem rows with l_orderkey % 20 = 0
    sampled_rows = con.sql("SELECT count(*) FROM lineitem WHERE l_orderkey % 20 = 0").fetchone()[0]
    bad = {}
    for name in sorted({o["name"] for o in ops if not o["error"]}):
        try:
            actual = checks.read_result(con, os.path.join(work, "results", name))
            if name == "m1_rf_train_predict":
                why = checks.rf_train_predict(actual, lineitem_rows)
            elif name == "m9_intercomparison":
                why = checks.intercomparison(actual, sampled_rows)
            elif name in oracle:
                why = checks.compare(checks.expected(
                    con, data, oracle[name], key, os.path.join(BUILD, "oracle_cache")), actual)
            else:
                why = "no oracle and no property check"
        except Exception as e:  # an unreadable output is a wrong output
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad


def check_products(work, seed, ops):
    """{slot op name: reason} for every QPE product that is wrong."""
    import numpy as np
    import checks
    import inputs
    lut = inputs.lut()
    vols, expected, bad = {}, {}, {}
    for o in ops:
        _, k, _, field, _, missing = o["name"].split("-")
        field, k = int(field), int(k)
        present = [r for r in inputs.RADARS if r != missing]
        quality = "".join(r if r in present else "-" for r in inputs.RADARS)
        if o["digest"] != quality:
            bad[o["name"]] = f"emitted quality {o['digest']} != {quality}"
            continue
        if (field, missing) not in expected:
            for r in present:
                vols.setdefault((field, r), inputs.volume(seed, field, r))
            expected[(field, missing)] = checks.product(lut, {r: vols[(field, r)] for r in present})
        t = (1717200000000 + k * 300000) // 1000
        base = os.path.join(work, "products", f"qpe_{t}")
        try:
            dn = np.fromfile(base + ".dn", np.uint8).reshape(inputs.NX, inputs.NY).astype(int)
            with open(base + ".h5", "rb") as f:
                h5 = f.read()
            why = checks.check_product(*expected[(field, missing)], dn, h5, quality)
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[o["name"]] = why
    return bad


def tail_p(n):
    """The highest percentile with ten operations above it, never below the
    median."""
    return max(0.5, (n - 10) / n)


def quantile(xs, p):
    """The Harrell-Davis estimate of the p-quantile of `xs`: the order
    statistics weighted by a Beta((n+1)p, (n+1)(1-p)) distribution over their
    ranks. A run holds 10-15 operations; where the single middle one moves
    with that operation's noise, this weighs its neighbours in as well."""
    import numpy as np
    x = np.sort(np.asarray(xs, float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    t = np.linspace(0, 1, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(w @ x)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen_s = make_inputs(a.workload, a.seed, work)
    run, ops = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, work)
    if not ops:
        fail("no operation ran")

    bad = (check_products(work, a.seed, ops) if a.workload == "qpe_realtime"
           else check_queries(work, ops))
    failed = [o for o in ops if o["error"] or o["name"] in bad]
    for o in failed:
        print(f"FAILED {o['name']} round {o['round']}: {o['error'] or bad[o['name']]}", file=sys.stderr)
    good = [o for o in ops if o not in failed]
    lat = sorted(o["latency"] for o in good) or [0.0]
    rounds = run["rounds"]
    if a.trace:
        layers = dict(run["layers"], **{"jvm.peak_rss_mb": run["peak_rss_mb"]})
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in per_layer_names().items()}
        if a.workload == "query_suite":
            idle = [f for f in FAMILIES if not layers.get(f"family.{f}_s", 0.0) > 0]
            if idle:
                fail(f"no time recorded for the families {idle}; query_suite.txt must hold each")
    else:
        values = {
            # input generation, then the JVM's start to its first timed operation
            "setup_s": gen_s + run["setup_s"],
            "wall_s": run["timed_s"] / rounds,
            "op_p50_s": quantile(lat, 0.5),
            "op_tail_s": quantile(lat, tail_p(len(lat))),
            "cpu_s": run["cpu_s"] / rounds,
            "product_mb": sum(o["bytes"] for o in good) / max(1, len(good)) / 1e6,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    # an operation that raised is failed; an output that is wrong is failed and incorrect
    print(json.dumps({"correct": not bad,
                      "attempted": len(ops), "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
