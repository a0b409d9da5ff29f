#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository's sources together with the bench harness (sbt, once
per source change), generates the seeded inputs (cached per seed), runs the
workload in one JVM at local[<all cores>], checks the outputs (DuckDB oracle
twins, SQL twins, gold-table invariants, planted stream truth) and prints one
JSON object as the last line of stdout. Everything it writes stays under
.bench_build/ in the working directory. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["arxiv_pipeline", "etl_relational", "dedup_corpus", "stream_dedup"]
# Input size per workload, at the benchmark's scale and the test scale:
# arXiv records; relational scale factor (documents for q54 at the same sf);
# GenScale corpus scale factor; stream documents per micro-batch.
SIZES = {"arxiv_pipeline": {"full": 6000, "tiny": 2000},
         "etl_relational": {"full": 0.02, "tiny": 0.002},
         "dedup_corpus": {"full": 0.01, "tiny": 0.005},
         "stream_dedup": {"full": 500, "tiny": 100}}
# Blocking-based near-dup queries (MinHash/SimHash/embedding LSH): exact
# verification makes every emitted row exact, but a true pair whose band
# keys never collide is missed by design. Their check is: no row the oracle
# lacks, and recall of the oracle's rows at least MIN_RECALL.
APPROXIMATE = {"q35_minhash_lsh", "q116_simhash_combos", "q119_fuzzy_decontam",
               "q122_simhash_permuted", "q40_embed_neardup",
               "q113_embed_neardup_adaptive", "q120_incremental_dedup"}
MIN_RECALL = 0.7
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "shuffle_mb": "MB"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def per_layer_units(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def source_digest(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, bench):
    """Compile ../src/main/scala plus the harness with sbt, offline, into a
    jar, then record which classes a short stream run loads into a JVM
    class-data archive. Every later JVM maps that archive instead of
    loading and verifying Spark's classes one by one, which takes seconds
    off each JVM start; the archive is rebuilt with the jar."""
    digest = source_digest(root)
    stamp = os.path.join(bench, "build.stamp")
    jar = os.path.join(bench, "perfbench.jar")
    if os.path.exists(stamp) and os.path.exists(jar) and open(stamp).read() == digest:
        return jar
    for f in (stamp, jar, archive_path(bench)):
        if os.path.exists(f):
            os.remove(f)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    with open(os.path.join(bench, "build.log"), "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build exceeded {BUILD_TIMEOUT_S} s, see {log.name}")
    if p.returncode != 0:
        fail(f"build failed, see {os.path.join(bench, 'build.log')}")
    # a class-data archive accepts jars only, not class directories
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dp, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                z.write(os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), classes))
    os.replace(jar + ".tmp", jar)
    train = os.path.join(bench, "train")
    shutil.rmtree(train, ignore_errors=True)
    call(root, java(bench, jar, "graft.perfbench.Main", [
        "--workload", "stream_dedup", "--seed", "0", "--trace", "0",
        "--data", train, "--work", train, "--out", os.path.join(train, "result.json"),
        "--size", str(SIZES["stream_dedup"]["tiny"])],
        archive=f"-XX:ArchiveClassesAtExit={archive_path(bench)}"),
        os.path.join(bench, "train.log"), "class-archive run")
    shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def archive_path(bench):
    return os.path.join(bench, "perfbench.jsa")


def java(bench, jar, main, args, archive=None):
    """The java command line for `main` with the harness and Spark on the
    classpath and everything Spark writes under .bench_build/. It maps the
    class-data archive when the build made one; a JVM that cannot use it
    starts without it."""
    spark_home = os.environ["SPARK_HOME"]
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(bench, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if archive is None and os.path.exists(archive_path(bench)):
        archive = f"-XX:SharedArchiveFile={archive_path(bench)}"
    cmd = ["java"] + ([archive] if archive else [])
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(bench, 'warehouse')}",
        "-Dlog4j2.level=ERROR",
        "-cp", f"{jar}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
        main] + args


def call(root, cmd, log_path, what, env=None):
    """Run a JVM to completion (killed and reaped after RUN_TIMEOUT_S)."""
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{what} exceeded {RUN_TIMEOUT_S} s, see {log_path}")
    if p.returncode != 0:
        fail(f"{what} exited {p.returncode}, see {log_path}")


def inputs(root, bench, jar, workload, seed, size):
    """Generate (or reuse) the seeded inputs; returns the data directory.
    The GenScale corpus is generated by its own JVM, so every measured JVM
    starts equally cold whether or not the inputs were cached."""
    import gen
    d = os.path.join(bench, "data", workload, f"{seed}-{size}")
    ready = os.path.join(d, "_GEN")
    if workload == "stream_dedup":  # the stream is drawn from the seed in the JVM
        os.makedirs(d, exist_ok=True)
        return d
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        if workload == "arxiv_pipeline":
            gen.arxiv(d, seed, size)
        else:
            if workload == "etl_relational":
                gen.relational(d, seed, size)  # q54 packs GenScale documents
            tables = "documents" if workload == "etl_relational" else "documents,embeddings"
            os.makedirs(d, exist_ok=True)
            env = dict(os.environ, GRAFT_GEN_TABLES=tables, SPARK_GRAFT_CPUS=str(os.cpu_count()))
            call(root, java(bench, jar, "graft.tools.GenScale", [d, str(size), str(seed)]),
                 os.path.join(bench, "genscale.log"), "GenScale", env)
        open(ready, "w").close()
    return d


def jvm(root, bench, jar, args, size, data, work, out):
    cmd = java(bench, jar, "graft.perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out, "--size", str(size)])
    log = os.path.join(bench, f"{args.workload}.jvm.log")
    call(root, cmd, log, "workload JVM")
    if not os.path.exists(out):
        fail(f"workload JVM wrote no result, see {log}")
    with open(out) as f:
        return json.load(f)


def canon_rows(df):
    """Canonical text rows: columns by name, floats to six decimals."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "null"
        if isinstance(v, float):
            return f"{v:.6f}"
        if hasattr(v, "tolist"):
            v = v.tolist()
        return str(v)

    return list(df.columns), sorted("\x01".join(cell(v) for v in r)
                                    for r in df.itertuples(index=False))


def digest(cols, rows):
    h = hashlib.sha256("\x02".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(name, got, want):
    """(ok, detail, recall) for one query's Spark rows against DuckDB's."""
    (gc, gr), (wc, wr) = got, want
    if name not in APPROXIMATE:
        ok = gc == wc and digest(gc, gr) == digest(wc, wr)
        return ok, "" if ok else f"spark {len(gr)} rows vs duckdb {len(wr)}", None
    if gc != wc:
        return False, f"columns {gc} vs {wc}", None
    if "status" in gc:  # verdict table: every doc once, and only true duplicates flagged
        i, s = gc.index("doc_id"), gc.index("status")
        docs = lambda rows: sorted(r.split("\x01")[i] for r in rows)
        dups = lambda rows: {r.split("\x01")[i] for r in rows if r.split("\x01")[s] != "kept"}
        gd, wd = dups(gr), dups(wr)
        recall = len(gd) / len(wd) if wd else 1.0
        ok = docs(gr) == docs(wr) and gd <= wd and recall >= MIN_RECALL
        return ok, "" if ok else f"{len(gd - wd)} false duplicates, recall {recall:.3f}", recall
    extra = set(gr) - set(wr)
    recall = len(set(gr) & set(wr)) / len(wr) if wr else 1.0
    ok = not extra and len(gr) == len(set(gr)) and recall >= MIN_RECALL
    return ok, "" if ok else f"{len(extra)} rows not in the oracle, recall {recall:.3f}", recall


def oracle_checks(data, entries):
    """Each query's Spark output against its DuckDB twin; the DuckDB rows
    are computed once per input directory and cached there."""
    import duckdb
    import pandas as pd
    cache_path = os.path.join(data, "oracle_rows.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    results = []
    for e in entries:
        name, sql = e["name"], e["sql"]
        if not sql:
            results.append((name, False, "no oracle SQL", None))
            continue
        if name not in cache:
            if con is None:
                con = duckdb.connect()
                for f in sorted(os.listdir(data)):
                    if f.endswith(".parquet"):
                        path = os.path.join(data, f)
                        if os.path.isdir(path):  # written by Spark
                            path = os.path.join(path, "*.parquet")
                        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            cache[name] = canon_rows(con.sql(sql).df())
        results.append((name,) + compare(name, canon_rows(pd.read_parquet(e["dir"])), cache[name]))
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # The run measures one cold pass, which at the benchmark's sizes lasts
    # longer than the window BENCHMARK.json sets (README, Timing model).
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(HERE, "build.sbt"))):
        fail("run from the repository root: its sources (src/main/scala) are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if not os.environ.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME to a Spark distribution, or put its bin/ on PATH")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    layer_units = per_layer_units(root)
    bench = os.path.join(root, ".bench_build")
    os.makedirs(bench, exist_ok=True)
    jar = build(root, bench)
    size = SIZES[args.workload][args.scale]
    data = inputs(root, bench, jar, args.workload, args.seed, size)
    work = os.path.join(bench, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    t0 = time.time()
    res = jvm(root, bench, jar, args, size, data, work, out)
    jvm_s = time.time() - t0
    t0 = time.time()

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    oracle = oracle_checks(data, res["oracle"])
    failed = res["failed"] + sum(1 for _, ok, _, _ in oracle if not ok)
    attempted = res["attempted"]
    for name, ok, detail in checks + [o[:3] for o in oracle]:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}")
    check_s = time.time() - t0
    recalls = {name: round(r, 4) for name, _, _, r in oracle if r is not None}
    if recalls:
        print(f"near-dup recall against the exact oracle: {recalls}")
    print(f"{args.workload} seed={args.seed}: timed pass "
          f"wall {res['wall_s']:.3f} s, cpu {res['cpu_s']:.2f} s (hypervisor steal "
          f"{res['steal_s']:.2f} s per CPU), set-ups cpu {res['setups_s']} s, "
          f"wall {res['setup_walls_s']} s, "
          f"{len(checks) + len(oracle)} output checks ({check_s:.1f} s), jvm {jvm_s:.1f} s")
    if args.trace:
        with open(os.path.join(bench, f"trace_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "listener_total": res["listener_total"],
                       "layer": res["layer"]}, f)
        # every declared metric (0 where the workload does not reach the
        # layer), plus any the workload measures beyond them
        units = dict(layer_units)
        units.update({n: unit_of(n) for n in res["layer"] if n not in units})
        metrics = {n: {"value": res["layer"].get(n, 0.0), "unit": u} for n, u in units.items()}
    else:
        metrics = {n: {"value": res["e2e"][n]["value"], "unit": u} for n, u in E2E_UNITS.items()}
    for n, m in metrics.items():
        print(f"  {n} = {m['value']} {m['unit']}")
    if failed == 0:  # a failing run keeps its outputs for inspection
        shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.path.join(bench, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    """Unit of a per-layer metric BENCHMARK.json does not declare."""
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_ratio") or name.endswith("write_amp") \
            or name.endswith("pair_yield"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
