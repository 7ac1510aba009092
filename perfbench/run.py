#!/usr/bin/env python3
"""graft's benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source with scalac against Spark's
jars (cached under $CARGO_TARGET_DIR, default .bench_build, keyed by a
hash of the sources), generates the workload's inputs from --seed under
perfbench/work/, computes the DuckDB oracle results the dashboard tiles
are checked against, then runs the measuring JVM (perfbench/src) and
prints its metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. Any
failed operation or output mismatch makes the exit code non-zero.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bi_dashboard", "rollup_maintenance")
TPCH = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"]
# rollup_maintenance makes an append batch for every MIN_CYCLE_S of
# --seconds, plus four. A cycle takes about 7 s on a 4-core host, so a run
# uses them up only if cycles get over 20 times faster.
MIN_CYCLE_S = 0.25
# corpus pipeline input size (docs and vectors), timed in traced
# rollup_maintenance runs
CORPUS_DOCS, CORPUS_VECS = 10_000, 10_000
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs",
              "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the installation
    `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        die(f"no graft sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(jars):
    """Compile graft's main sources and the benchmark in one scalac run
    into a jar; reuse it while no source changes. Also records the DuckDB
    oracle SQL of the dashboard's registry tiles, and a class-data-sharing
    archive from one short bi_dashboard run on frozen/'s tables, which takes
    seconds off every later JVM start."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", classes] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("scalac failed")
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", os.path.join(out, "perfbench.jar"), "-C", classes, "."],
                   check=True)
    shutil.rmtree(classes)
    java(["perfbench.Main", "--oracles", os.path.join(out, "oracles.json")],
         out, jars, out, check=True)
    train = os.path.join(out, "train")
    frozen = os.path.join(ROOT, "frozen")
    java(["perfbench.Main", "--workload", "bi_dashboard", "--seed", "0", "--seconds", "1",
          "--trace", "1", "--data", frozen, "--work", train, "--dates", dates(frozen),
          "--cpus", str(len(os.sched_getaffinity(0)))],
         out, jars, train, archive="dump")
    shutil.rmtree(train)
    open(os.path.join(out, "done"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def java(args, build_dir, jars, work, check=False, timeout=None, archive="use"):
    """Run the benchmark's JVM with graft's session flags; `archive` "use"
    maps the build's class-data archive if present, "dump" writes it."""
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    jsa = os.path.join(build_dir, "app.jsa")
    cds = ([f"-XX:ArchiveClassesAtExit={jsa}"] if archive == "dump" else
           [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cmd = (["java", "-XX:-UsePerfData", "-Xss16m", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
            "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + cds + opens
           + ["-cp", f"{os.path.join(build_dir, 'perfbench.jar')}{os.pathsep}{jars}"] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        p.kill()
        p.wait()
        raise
    if check and p.returncode != 0:
        die(f"{' '.join(args[:2])} exited {p.returncode}")
    return p.returncode, out


def generate(workload, seed, seconds, data, trace):
    """The workload's inputs, a pure function of the seed (and, for the
    number of append batches, of --seconds); see gen.py. Returns the
    digest of their checksums and the JVM arguments that describe them."""
    sys.path.insert(0, HERE)
    import gen
    os.makedirs(data)
    con = gen.connect(seed)
    gen.tpch(con, data, facts=workload == "bi_dashboard")
    args = ["--dates", dates(data)]
    if workload == "rollup_maintenance":
        # orders becomes a directory the cycles append files to
        os.rename(f"{data}/orders.parquet", f"{data}/orders0.parquet")
        os.makedirs(f"{data}/orders.parquet")
        os.rename(f"{data}/orders0.parquet", f"{data}/orders.parquet/part-00000.parquet")
        os.makedirs(f"{data}/batches")
        # frozen's documents are the indexed corpus. A cycle appends a
        # month of sf0.1's orders, dated in frozen's last month, and the
        # same share of the corpus in new documents.
        base = gen.frozen_docs(con)
        con.execute(f"COPY (SELECT * FROM {gen.frozen('documents')} ORDER BY doc_id) "
                    f"TO '{data}/documents.parquet' (FORMAT PARQUET)")
        per_orders = gen.orders_per_month(con)
        per_docs = round(len(base) * per_orders / gen.ORDERS)
        since = gen.recent_month(con)
        docs = gen.Docs(con, seed, base)
        for c in range(4 + math.ceil(seconds / MIN_CYCLE_S)):
            docs.write(con, docs.make(per_docs, len(base) + c * per_docs),
                       f"{data}/batches/docs_{c}.parquet", f"{data}/batches/truth_{c}.parquet")
            gen.batch_orders(con, f"{data}/batches/orders_{c}.parquet", per_orders,
                             gen.ORDERS + c * per_orders, since)
        args += ["--watermark", since]
        if trace:
            os.makedirs(f"{data}/corpus")
            corpus = gen.Docs(con, seed)
            corpus.write(con, corpus.make(CORPUS_DOCS, 0), f"{data}/corpus/documents.parquet",
                         f"{data}/corpus/truth.parquet")
            gen.embeddings(con, f"{data}/corpus/embeddings.parquet", CORPUS_VECS)
    con.close()
    return gen.checksums(data, f"{data}/inputs.sha256"), args


def dates(data):
    """The dashboard's filter dates, read off the orders under `data`:
    the date from which the latest quarter of orders fall, and the first
    and last order date."""
    import duckdb
    con = duckdb.connect()
    row = con.execute(f"SELECT quantile_disc(o_orderdate, 0.75)::DATE, min(o_orderdate)::DATE,"
                      f" max(o_orderdate)::DATE FROM '{data}/orders.parquet'").fetchone()
    con.close()
    return ",".join(d.isoformat() for d in row)


def canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        # midnight prints as a date, as on the Spark side
        return v.strftime("%Y-%m-%d" if v.time() == datetime.time() else "%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def oracles(build_dir, data, out, passes):
    """DuckDB's results for the registry tiles, with the median time of
    `passes` fetchall() runs of each oracle query."""
    import duckdb
    with open(os.path.join(build_dir, "oracles.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TPCH:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    res = {}
    for name, sql in sqls.items():
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            cur = con.execute(sql)
            rows = cur.fetchall()
            times.append((time.perf_counter() - t0) * 1000)
        res[name] = {"columns": [d[0] for d in cur.description],
                     "rows": [[canon(v) for v in r] for r in rows],
                     "duck_ms": statistics.median(times)}
    con.close()
    with open(out, "w") as f:
        json.dump(res, f)


def main():
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    build_dir = build(jars)
    t_start = time.time()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        digest, data_args = generate(a.workload, a.seed, a.seconds, data, a.trace)
        with open(os.path.join(data, "inputs.sha256")) as f:
            for line in f:
                print("input", line.rstrip())
        print(f"inputs sha256 {digest}")
        expected = ""
        if a.workload == "bi_dashboard":
            expected = os.path.join(work, "expected.json")
            oracles(build_dir, data, expected, 3 if a.trace else 1)
        cpus = len(os.sched_getaffinity(0))
        # the run must end within 180 s of its start: the JVM skips its
        # optional traced steps (counted as failed ops) past the deadline,
        # and is stopped a little after it
        budget = 175 - (time.time() - t_start)
        deadline = int((t_start + 165) * 1000)
        try:
            code, out = java(["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data", data, "--work", work, "--cpus", str(cpus),
                              "--expected", expected, "--deadline", str(deadline)]
                             + data_args,
                             build_dir, jars, work, timeout=budget)
        except subprocess.TimeoutExpired:
            die(f"the measuring JVM did not finish within {budget:.0f} s; stopped it")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass

    line = next((l for l in reversed(out.splitlines()) if l.startswith("PERFBENCH ")), None)
    for l in out.splitlines():
        if l.startswith("PERFBENCH_BRIDGE "):
            print(l)
    if line is None:
        die(f"the measuring JVM exited {code} without a result")
    r = json.loads(line[len("PERFBENCH "):])
    print(json.dumps({"setup_runs_s": r["setup_runs"], "all_metrics": r["metrics"]}))
    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in want:
        v = r["metrics"].get(m["name"])
        if v is None:
            if not a.trace:
                missing.append(m["name"])
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    correct = code == 0 and r["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
