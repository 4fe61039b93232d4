#!/usr/bin/env python3
"""Lake benchmark: one command per workload.

    python3 perfbench/run.py --workload <import-churn|query-mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the program and the benchmark's
JVM side (scala/) with the Scala compiler found in the build's jar
directory, generates the workload's inputs from the seed, runs one JVM
with Spark at local[nproc], checks every output, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_build/perfbench/spans-*.jsonl.
A line before it carries the host context, sample counts and the
informational figures (see README.md).
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("import-churn", "query-mix")
# The heap grows with demand, so VmHWM follows what the program keeps
# alive. The serial collector grows it by fixed free-ratio rules after
# each collection; G1 grows it by pause-time goals, and its peak RSS
# spread 1.27-1.74 GB over three same-size query-mix runs.
JVM_MEMORY = ["-Xmx2g", "-XX:+UseSerialGC"]
DATA = os.path.join(HERE, "data", "sf0.01")

# query-mix: q01–q12 (the reference's key-value access patterns, timed
# as lookups), every GeoOps query, and two heavy executor-bound cells of
# other families (~2.5 s each here; a pass must fit one run)
LOOKUPS = [
    "q01_scan_prefix", "q02_point_lookup", "q03_eq_lookup",
    "q04_exists_guard", "q05_prefix_count", "q06_ordered_manifest",
    "q07_outcome_filter", "q08_allpass_summary", "q09_consistency_rule",
    "q10_enumerate", "q11_status_merge", "q12_key_compose"]
QUERIES = LOOKUPS + [
    # GeoOps
    "q227_point_in_polygon", "q228_polygon_intersects",
    "q230_polygon_metrics", "q232_polygon_zorder", "q233_polygon_within",
    "q236_stream_geofence", "q238_point_in_holed_polygon",
    "q239_point_near_polygon", "q240_point_in_multipolygon",
    "q241_rings_intersect", "q242_holed_region_metrics",
    "q243_wkt_roundtrip",
    # heavy cells
    "q81_pagerank", "q96_sparse_cosine",
]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "lookup_p50_s": "s",
              "seq_total_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "store.commits": "count", "store.commit_s": "s",
    "store.read_calls": "count", "store.read_s": "s",
    "store.read_jobs": "count", "store.live_gens_max": "count",
    "store.folds": "count", "store.bytes_written": "bytes",
    "store.files_kept": "count", "store.files_listed": "count",
    "pipeline.jobs_per_import": "count", "pipeline.s": "s",
    "crawl.docs": "count", "crawl.s": "s",
    "checksum.bytes": "bytes", "checksum.tasks": "count",
    "checksum.s": "s", "checksum.core_occupancy": "ratio",
    "copy.files": "count", "copy.bytes": "bytes", "copy.tasks": "count",
    "copy.s": "s",
    "staging.opens.driver": "count", "staging.opens.executor": "count",
    "staging.bytes.driver": "bytes", "staging.bytes.executor": "bytes",
    "staging.read_s.driver": "s", "staging.read_s.executor": "s",
    "status.jobs": "count", "status.read_jobs": "count",
    "catalog.jobs": "count",
    "query.build_s": "s", "query.build_jobs": "count",
    "query.plan_s": "s", "query.exec_s": "s", "query.exec_jobs": "count",
    "query.leaked_rdds": "count",
    "tables.schema_jobs": "count", "tables.schema_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.core_occupancy": "ratio",
    "plan.broadcast_joins": "count", "plan.shuffle_joins": "count",
    "plan.cartesian": "count", "plan.codegen": "count",
}
PER_LAYER.update({f"self_s.{layer}": "s" for layer in (
    "gdl.ImportPipeline", "gdl.TableStore", "gdl.StacCrawler",
    "gdl.ChecksumValidator", "gdl.Importer", "gdl.UrlReader",
    "gdl.ImportStatus", "gdl.DatasetService", "queries")})
PER_LAYER.update({f"overhead_s.{m}": "s"
                  for m in ("op_p50_s", "lookup_p50_s", "seq_total_s")})


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def jar_dir():
    """The jar directory build.sbt compiles and runs against."""
    try:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
    except OSError as e:
        raise BenchError(f"no build.sbt at the checkout root: {e}")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no usable unmanagedBase")
    return m.group(1), sbt


def add_opens(sbt):
    """The --add-opens packages build.sbt gives forked runs."""
    return [a for p in re.findall(r'"(java\.base/[A-Za-z0-9./]+)"', sbt)
            for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def scalac(classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", classpath,
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", classpath, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def stamp(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
    return h.hexdigest()[:16]


def compiled(classpath, sources, key):
    """Classes of `sources`, compiled once per `key` into BUILD."""
    out = os.path.join(BUILD, f"classes-{key}")
    if not os.path.exists(out + ".done"):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        scalac(classpath, out, sources)
        open(out + ".done", "w").close()
        log(f"compiled {len(sources)} files in {time.time() - t0:.1f} s")
    return out


def build():
    """Compile the program and the benchmark; each is reused while its
    sources, build.sbt and the jars stay the same. Returns the run
    classpath and the JVM's --add-opens flags."""
    jars, sbt = jar_dir()
    jar_list = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler")
               for j in jar_list):
        raise BenchError(f"no scala-compiler jar in {jars}")
    main_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**",
                                             "*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main_src:
        raise BenchError("no program sources under src/main")

    def contents(paths):
        return [p + "\0" + open(p).read() for p in paths]
    jar_cp = ":".join(jar_list)
    main_key = stamp(sbt, jar_cp, *contents(main_src))
    main_out = compiled(jar_cp, main_src, main_key)
    bench_out = compiled(f"{main_out}:{jar_cp}", bench_src,
                         stamp(main_key, *contents(bench_src)))
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if not old.startswith((main_out, bench_out)):
            shutil.rmtree(old, ignore_errors=True) if os.path.isdir(old) \
                else os.remove(old)
    return f"{bench_out}:{main_out}:{jar_cp}", add_opens(sbt)


# ---- checks -----------------------------------------------------------

def norm_report(r):
    """Order-free form of a Report: error lists are sets."""
    def section(s):
        return (s["status"], sorted(
            (e["check"], e["result"], e["url"], e.get("message"))
            for e in s["errors"]))
    return (r["stepFunction"], section(r["validation"]),
            section(r["metadataUpload"]), section(r["assetUpload"]))


def report_matches(got, want):
    """`got` equals the planted expectation; messages are compared where
    the expectation pins one (they embed local paths otherwise)."""
    if got is None:
        return False
    pinned = {(e["check"], e["url"]) for s in ("validation",
              "metadataUpload", "assetUpload") for e in want[s]["errors"]
              if "message" in e}
    g = json.loads(json.dumps(got))
    for s in ("validation", "metadataUpload", "assetUpload"):
        for e in g[s]["errors"]:
            if (e["check"], e["url"]) not in pinned:
                e.pop("message", None)
    return norm_report(g) == norm_report(want)


def digest_file(path, algo):
    h = hashlib.new(algo)
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def copy_problems(version, storage, pool):
    """Why the copied version under `storage` is wrong, or [] if every
    asset re-hashes to its source digest and every metadata document's
    hrefs are basenames."""
    problems = []
    for name in version["metadata"]:
        p = os.path.join(storage, name)
        try:
            with open(p) as f:
                doc = json.load(f)
        except (OSError, ValueError) as e:
            problems.append(f"{name}: {e}")
            continue
        hrefs = [a.get("href", "") for a in doc.get("assets", {}).values()]
        hrefs += [ln.get("href", "") for ln in doc.get("links", [])]
        if any("/" in h for h in hrefs):
            problems.append(f"{name}: href not rewritten to a basename")
    futures = {}
    for a in version["assets"]:
        algo = {"1220": "sha256", "1340": "sha512"}[a["multihash"][:4]]
        p = os.path.join(storage, a["name"])
        futures[pool.submit(digest_file, p, algo)] = a
    for fut, a in futures.items():
        try:
            if fut.result() != a["multihash"][4:]:
                problems.append(f"{a['name']}: copy differs from source")
        except OSError as e:
            problems.append(f"{a['name']}: {e}")
    return problems


def check_imports(result, manifest):
    """Failed-operation count and the first few reasons."""
    failed, why = 0, []
    versions = manifest["versions"]
    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        for p in result["passes"]:
            for op in p["ops"]:
                bad = None
                if not op.get("ok"):
                    bad = op.get("error", "operation failed")
                elif op["op"] == "status":
                    want = versions[op["version"]]["expected"]
                    if not report_matches(op.get("report"), want):
                        bad = (f"status of {op['version']}: got "
                               f"{json.dumps(op.get('report'))}")
                elif op["op"] == "import":
                    v = versions[op["version"]]
                    passed = v["expected"]["validation"]["status"] == "Passed"
                    storage = op.get("storage", "")
                    if passed:
                        probs = copy_problems(v, storage, pool)
                        if probs:
                            bad = f"copy of {op['version']}: {probs[:3]}"
                    elif os.path.exists(storage):
                        bad = f"failed version {op['version']} was copied"
                if bad:
                    failed += 1
                    why.append(f"{op['op']} {op.get('version') or op.get('dataset')}: {bad}")
    return failed, why


def oracle_failures(result, results_dir):
    """Names of queries whose dumped result differs from the DuckDB
    oracle, under tools/check.py's compare rules."""
    import duckdb
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad = {}
    for name in QUERIES:
        sql = result["oracle_sql"].get(name)
        out = os.path.join(results_dir, name)
        try:
            if sql is None:
                raise BenchError("no oracle SQL")
            got_rel = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            cols = sorted(got_rel.columns)
            got = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                          + f" FROM read_parquet('{out}/*.parquet')").fetchall()
            want_rel = con.sql(sql)
            if sorted(want_rel.columns) != cols:
                raise BenchError(f"columns {cols} vs {sorted(want_rel.columns)}")
            idx = [want_rel.columns.index(c) for c in cols]
            want = [tuple(r[i] for i in idx) for r in want_rel.fetchall()]
            exact, near = check.cmp_rows(check.rows_key(got),
                                         check.rows_key(want))
            if not near:
                raise BenchError("rows differ")
        except Exception as e:  # any failure to match is a failed check
            bad[name] = str(e)[:200]
    return bad


def check_queries(result, results_dir):
    failed, why = 0, []
    for p in result["passes"]:
        for op in p["ops"]:
            if not op.get("ok"):
                failed += 1
                why.append(f"{op['name']}: {op.get('error')}")
    first = {op["name"]: op for op in result["passes"][0]["ops"]}
    for name, err in oracle_failures(result, results_dir).items():
        if first.get(name, {}).get("ok"):
            failed += 1
            why.append(f"{name}: oracle mismatch: {err}")
    return failed, why


# ---- metrics ----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest of p90/p99 with at least ten samples beyond it."""
    for q in (0.99, 0.9):
        if len(xs) * (1 - q) >= 10:
            s = sorted(xs)
            return {f"p{int(q * 100)}": s[min(len(s) - 1, int(q * len(s)))]}
    return {}


def end_to_end(result, workload, traced=False):
    """End-to-end metrics over the untraced (or the traced) passes."""
    passes = [p for p in result["passes"] if p["traced"] == traced]
    primary = ("query", "lookup") if workload == "query-mix" else ("import",)
    lookup = ("lookup",) if workload == "query-mix" else ("status",)
    prim = [o["s"] for p in passes for o in p["ops"] if o["op"] in primary]
    look = [o["s"] for p in passes for o in p["ops"] if o["op"] in lookup]
    if workload == "query-mix":
        totals = [sum(o["s"] for o in p["ops"]) for p in passes]
    else:
        totals = [p["wall_s"] for p in passes]
    metrics = {"setup_s": result["setup_s"],
               "op_p50_s": median(prim), "lookup_p50_s": median(look),
               "seq_total_s": median(totals),
               "peak_rss_mb": result["peak_rss_mb"]}
    info = {"samples": {"op_p50_s": len(prim), "lookup_p50_s": len(look),
                        "seq_total_s": len(totals)},
            "tails": {"op": tail(prim), "lookup": tail(look)}}
    if workload != "query-mix":
        info["store_mb"] = result.get("store_mb")
    else:
        info["per_query_p50_s"] = {
            n: median([o["s"] for p in passes for o in p["ops"]
                       if o["name"] == n]) for n in QUERIES}
    return metrics, info


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run(args):
    cpus = len(os.sched_getaffinity(0))
    host = {"nproc": cpus, "loadavg_start": loadavg(),
            "heap": " ".join(JVM_MEMORY)}
    classpath, opens = build()

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        manifest = None
        cfg = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": bool(args.trace),
               "cpus": cpus, "work": work,
               "out": os.path.join(work, "results.json"),
               "spans": os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.jsonl")}
        if args.workload == "query-mix":
            cfg.update(data=DATA, queries=QUERIES, lookups=LOOKUPS,
                       results=os.path.join(work, "query-results"))
        else:
            cfg["input"] = os.path.join(work, "input")
            manifest = gen.generate(args.seed, cfg["input"])
        with open(os.path.join(work, "config.json"), "w") as f:
            json.dump(cfg, f)

        cmd = (["java"] + JVM_MEMORY + [
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.ui.enabled=false"] + opens
               + ["-cp", classpath, "graft.perfbench.LakeBench",
                  os.path.join(work, "config.json")])
        with open(os.path.join(work, "jvm.log"), "w") as jvm_log:
            proc = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                    cwd=work)
            try:
                rc = proc.wait(timeout=args.seconds + 160)
            except subprocess.TimeoutExpired:
                rc = "on timeout"
            finally:  # also on SIGTERM: no JVM outlives the run
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                raise BenchError(f"benchmark JVM exited {rc}:\n"
                                 + f.read()[-3000:])
        with open(cfg["out"]) as f:
            result = json.load(f)

        t0 = time.time()
        if args.workload == "query-mix":
            failed, why = check_queries(result, cfg["results"])
        else:
            failed, why = check_imports(result, manifest)
        host["check_s"] = round(time.time() - t0, 2)
        attempted = sum(len(p["ops"]) for p in result["passes"])
        for w in why[:20]:
            log(f"FAILED {w}")

        e2e, info = end_to_end(result, args.workload)
        if args.trace:
            traced, _ = end_to_end(result, args.workload, traced=True)
            values, units = dict(result["layers"]), PER_LAYER
            values.update({f"overhead_s.{k}": traced[k] - e2e[k]
                           for k in ("op_p50_s", "lookup_p50_s",
                                     "seq_total_s")})
        else:
            values, units = e2e, END_TO_END
        missing = [k for k in units if k not in values]
        if missing:
            raise BenchError(f"metrics missing: {missing}")
        host["loadavg_end"] = loadavg()
        info.update(host=host, ops_failed_frac=failed / attempted,
                    end_to_end=e2e)
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
