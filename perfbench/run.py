#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine together
with the benchmark's main (`perfbench/build.sbt`, via sbt), generates the
registry tables and computes their DuckDB oracle results; everything it
writes goes under `.bench_build/` in the checkout and is reused by later
runs. Each run then:

1. makes its inputs from the seed (customs drops; the registry query order),
2. starts one JVM (`local[nproc]`, one client thread) that sets up once,
   timed from JVM start, then measures a cold pass and warm passes until
   `--seconds` have passed and at least three warm passes have run,
3. checks what the run left behind against what is known to be right: the
   customs cycles' tables and knowledge bases against the generator's
   expectations, and the query results of one untimed pass after the
   measured ones against each query's DuckDB twin (`SparkEntry.oracleSql`),
4. prints a readable summary and, as the last line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
   with `--trace 0`, the per-layer metrics with `--trace 1`.

Metric names, units and bounds come from `BENCHMARK.json`; the registry
query list and the layer -> metric -> workload map from `perfbench/spec.json`.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SPEC = json.loads((HERE / "spec.json").read_text())
HEAP = "2g"  # the JVM's maximum heap; the heap grows with demand up to it
RUN_LIMIT_S = 170
ORACLE_LIMIT_S = 120

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


def die(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def cpu_ticks():
    """(busy, steal) jiffies of the whole box, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` with its output in `log_path`; kill it (and wait) on
    timeout. Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return -9


# ------------------------------------------------------------------ prepare

def build():
    """Compile engine + benchmark main once per source state; return the
    classpath."""
    stamp = tree_hash([ROOT / "src" / "main", HERE / "src",
                       HERE / "build.sbt", HERE / "project" / "build.properties"])
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    log("building engine + benchmark main with sbt (first run in this checkout)")
    t0 = time.monotonic()
    sbt_log = BUILD / "sbt.log"
    (BUILD / "sbt-tmp").mkdir(exist_ok=True)
    rc = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true",
                     f"-Djava.io.tmpdir={BUILD / 'sbt-tmp'}", "compile",
                     "export runtime:fullClasspath"], HERE, sbt_log, 800)
    lines = sbt_log.read_text(errors="replace").splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and l.strip().startswith("/")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {rc}); see {sbt_log}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    log(f"built in {time.monotonic() - t0:.0f} s")
    return cps[-1]


def java_cmd(cp, work, args):
    java = Path(os.environ.get("JAVA_HOME", "/nonexistent")) / "bin" / "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([str(java) if java.exists() else "java"] + opens + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"] + args)


def registry_tables():
    import gen_tables
    stamp = hashlib.sha256((HERE / "gen_tables.py").read_bytes()).hexdigest()[:16]
    out = BUILD / "tables" / stamp
    if not (out / "_DONE").exists():
        log(f"generating registry tables (sf {gen_tables.SF}, seed {gen_tables.SEED})")
        shutil.rmtree(out, ignore_errors=True)
        gen_tables.generate(str(out), gen_tables.SF, gen_tables.SEED)
        (out / "_DONE").write_text("")
    return out, gen_tables.SF


def canon(v):
    """Value canonicalization of tools/check_correctness.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return str(v)


def rowset_digest(cols, rows):
    """Column-order-free, row-order-free digest of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rs = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(cols), rs]).encode()).hexdigest()
    return {"rows": len(rows), "cols": sorted(cols), "sha": h}


def duck(tables_dir=None):
    import duckdb
    con = duckdb.connect(config={"threads": "4", "memory_limit": "2GB"})
    if tables_dir:
        for p in sorted(Path(tables_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def fetch(sql, tables_dir=None):
    """(columns, rows) of one query on a fresh connection, so one failed
    check cannot abort the transaction of the next."""
    con = duck(tables_dir)
    try:
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        con.close()


def oracles(cp, tables):
    """DuckDB twin results of every registry query, computed once per
    (build, tables) and kept under .bench_build/oracles."""
    queries = [q for w in SPEC["workloads"].values() for q in w.get("queries", [])]
    cache = BUILD / "oracles" / f"{tables.name}.json"
    stamp = (BUILD / "build.stamp").read_text()
    have = json.loads(cache.read_text()) if cache.exists() else {}
    if have.get("_build") == stamp and all(q in have for q in queries):
        return have
    tmp = BUILD / "oracle-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "tmp").mkdir(parents=True)
    sql_file = tmp / "oracle_sql.json"
    rc = run_logged(java_cmd(cp, tmp, ["--mode", "oracles", "--queries",
                                       ",".join(queries), "--out", str(sql_file)]),
                    ROOT, tmp / "jvm.log", 120)
    if rc != 0:
        die(f"could not read the twin SQL (exit {rc}); see {tmp / 'jvm.log'}")
    sql = json.loads(sql_file.read_text())
    todo = [q for q in queries if q not in have or
            have[q]["sql_sha"] != hashlib.sha256(sql[q].encode()).hexdigest()]
    if todo:
        log(f"computing {len(todo)} DuckDB oracle results")
        con = duck(tables)
        for q in todo:
            t0 = time.monotonic()
            timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
            timer.start()
            try:
                rel = con.sql(sql[q])
                d = rowset_digest(list(rel.columns), rel.fetchall())
            finally:
                timer.cancel()
            d["sql_sha"] = hashlib.sha256(sql[q].encode()).hexdigest()
            d["oracle_s"] = round(time.monotonic() - t0, 2)
            have[q] = d
        con.close()
    have["_build"] = stamp
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(json.dumps(have, indent=1))
    shutil.rmtree(tmp, ignore_errors=True)
    return have


def prepare():
    t0 = time.monotonic()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        die(f"engine sources not found under {ROOT / 'src'}; run from a checkout root")
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "prepare.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        tables, sf = registry_tables()
        oracle = oracles(cp, tables)
    if time.monotonic() - t0 > 5:
        log(f"prepared in {time.monotonic() - t0:.0f} s")
    return cp, tables, sf, oracle


# -------------------------------------------------------------------- checks

def check_registry(res, work, oracle):
    """One check per query: its rowset against the DuckDB twin's."""
    failures = []
    queries = SPEC["workloads"][res["workload"]]["queries"]
    for q in queries:
        if q not in res["outputs"]:
            failures.append(f"{q}: no output")
            continue
        got = rowset_digest(*fetch(f"SELECT * FROM read_parquet('{work}/out/{q}/*.parquet')"))
        want = oracle[q]
        if (got["rows"], got["cols"], got["sha"]) != (want["rows"], want["cols"], want["sha"]):
            failures.append(f"{q}: {got['rows']} rows vs twin {want['rows']}"
                            f"{'' if got['cols'] == want['cols'] else ', columns differ'}")
    return len(queries), failures


def check_customs(res, expected):
    """Per cycle: landed rows and content sums, rejects, the exact planted
    knowledge base, and a backup on every cycle after the first."""
    failures = []
    checks = 0
    cycles = sorted(res["cycles"], key=lambda c: c["cycle"])

    def one(ok, msg):
        nonlocal checks
        checks += 1
        if not ok:
            failures.append(msg)

    def table(path):
        return f"read_parquet('{path}/*.parquet')"

    for i, c in enumerate(cycles):
        n, exp = c["cycle"], expected["drops"][c["drop"]]
        try:
            rows, qty, doclen, dirty = fetch(
                "SELECT count(*), coalesce(sum(qty), 0), sum(length(dcl_doc_no)), "
                "count(*) FILTER (WHERE regexp_matches(dcl_doc_no, '[ /\\n]')) "
                f"FROM {table(c['dir'] + '/history')}")[1][0]
            one((rows, float(qty), doclen, dirty) ==
                (exp["decl_rows"], float(exp["decl_qty_sum"]), exp["decl_docno_len"], 0),
                f"cycle {n}: declarations rows/qty/doc-no {rows}/{qty}/{doclen}/{dirty} "
                f"vs {exp['decl_rows']}/{exp['decl_qty_sum']}/{exp['decl_docno_len']}/0")
        except Exception as e:  # noqa: BLE001 - a missing table is a failed check
            one(False, f"cycle {n}: declarations unreadable ({e})")
        try:
            rows = fetch(f"SELECT count(*) FROM {table(c['dir'] + '/raw')}")[1][0][0]
            one(rows == exp["manifest_rows"],
                f"cycle {n}: manifest rows {rows} vs {exp['manifest_rows']}")
        except Exception as e:  # noqa: BLE001
            one(False, f"cycle {n}: manifests unreadable ({e})")
        one(sorted(c["rejects"]) == sorted(exp["rejects"]),
            f"cycle {n}: rejects {c['rejects']} vs {exp['rejects']}")
        one((c["backup"] is None) == (i == 0) and
            (c["backup"] is None or Path(c["backup"].replace("file:", "")).is_dir()),
            f"cycle {n}: backup {c['backup']!r} (expected {'none' if i == 0 else 'a backup'})")
        # this cycle's KB is the live target after the last cycle, and the
        # backup the next cycle took otherwise
        kb = (cycles[i + 1]["backup"] if i + 1 < len(cycles)
              else str(Path(c["dir"]).parent.parent / "kb"))
        try:
            got = sorted(list(r) for r in fetch(
                "SELECT original_description, description_official, ccc_code, "
                f"frequency FROM {table(str(kb).replace('file:', ''))}")[1])
            extra = [r for r in got if r not in exp["kb"]][:2]
            missing = [r for r in exp["kb"] if r not in got][:2]
            one(got == exp["kb"], f"cycle {n}: knowledge base differs "
                f"({len(got)} rows vs {len(exp['kb'])}; got {extra}, want {missing})")
        except Exception as e:  # noqa: BLE001
            one(False, f"cycle {n}: knowledge base unreadable ({e})")
    return checks, failures


# ------------------------------------------------------------------- metrics

def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res, wl):
    passes = res["passes"]
    plain = [p for p in passes if p["pass"] > 0 and not p["traced"]] or \
        [p for p in passes if p["pass"] > 0]
    warm_ids = {p["pass"] for p in plain}
    warm = [s["build_s"] + s["exec_s"] for s in res["samples"]
            if s["pass"] in warm_ids and s["ok"]]
    # the upper quartile, fixed: how many warm samples a run has depends on
    # the box speed, so no percentile above it keeps ten samples beyond it
    tail_q = 0.75
    cold = [p["wall_s"] for p in passes if p["pass"] == 0]
    vals = {
        "setup_s": res["info"]["setup_s"],
        "cold_pass_s": cold[0] if cold else 0.0,
        "warm_pass_s": statistics.median([p["wall_s"] for p in plain]) if plain else 0.0,
        "query_p50_s": statistics.median(warm) if warm else 0.0,
        "query_tail_s": quantile(warm, tail_q),
        "live_heap_mb": res["live_heap_mb"],
    }
    beyond = sum(1 for x in warm if x > vals["query_tail_s"])
    notes = {"query_tail_s": f"p{100 * tail_q:.0f} of {len(warm)} warm samples, "
                             f"{beyond} beyond it"}
    return vals, notes


def customs_rates(res, expected):
    """E1/E2 rows landed per second and E3 seconds over the warm cycles."""
    cyc = {c["cycle"]: c for c in res["cycles"]}
    rates = {"pipelines.importDeclarations": [], "pipelines.importManifests": []}
    train = []
    for s in res["samples"]:
        if s["pass"] == 0 or not s["ok"]:
            continue
        exp = expected["drops"][cyc[s["pass"]]["drop"]]
        if s["op"] == "pipelines.importDeclarations":
            rates[s["op"]].append(exp["decl_rows"] / s["exec_s"])
        elif s["op"] == "pipelines.importManifests":
            rates[s["op"]].append(exp["manifest_rows"] / s["exec_s"])
        else:
            train.append(s["exec_s"])
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {"pipelines.declarations_rows_per_s": med(rates["pipelines.importDeclarations"]),
            "pipelines.manifests_rows_per_s": med(rates["pipelines.importManifests"]),
            "pipelines.train_s": med(train)}


# ----------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=sorted(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    wl = SPEC["workloads"][a.workload]
    cp, tables, sf, oracle = prepare()
    t_start = time.monotonic()  # the one-time build above has its own limits
    cpus = len(os.sched_getaffinity(0))
    work = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, TMPDIR=str(work / "tmp"))
    try:
        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--work", str(work),
                "--out", str(work / "result.json")]
        expected = None
        if "queries" in wl:
            args += ["--data", str(tables), "--queries", ",".join(wl["queries"])]
        else:
            subprocess.run([sys.executable, str(HERE / "gen_customs.py"),
                            str(work / "inputs"), "--seed", str(a.seed)],
                           check=True, env=env)
            expected = json.loads((work / "inputs" / "expected.json").read_text())
            args += ["--inputs", str(work / "inputs")]
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        busy0, steal0 = cpu_ticks()
        rc = run_logged(java_cmd(cp, work, args), ROOT, work / "jvm.log",
                        max(limit, 60), env)
        busy1, steal1 = cpu_ticks()
        if rc != 0 or not (work / "result.json").exists():
            tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
            sys.stderr.write("\n".join(tail) + "\n")
            die(f"benchmark JVM failed (exit {rc})")
        res = json.loads((work / "result.json").read_text())

        if expected is None:
            checks, failures = check_registry(res, work, oracle)
        else:
            checks, failures = check_customs(res, expected)
        bad_ops = [s for s in res["samples"] if not s["ok"]]
        attempted = len(res["samples"]) + checks
        failed = len(bad_ops) + len(failures)
        for f in failures:
            log(f"CHECK FAILED {f}")
        for e in res["errors"]:
            log(f"ERROR {e}")

        e2e, notes = end_to_end(res, wl)
        layer = dict(res["per_layer"])
        if expected is not None:
            layer.update(customs_rates(res, expected))
        skipped = {}
        if a.trace:
            metrics = {}
            for m in BENCH["per_layer"]:
                runs_here = a.workload in SPEC["layers"][m["name"]]["workloads"]
                if runs_here and m["name"] in layer:
                    metrics[m["name"]] = {"value": layer[m["name"]], "unit": m["unit"]}
                else:
                    reason = ("not measured" if runs_here
                              else "layer not exercised by this workload")
                    skipped[m["name"]] = f"skipped: {reason}"
                    metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in BENCH["end_to_end"]}

        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "box": {"nproc": cpus, "master": res["master"],
                    "max_heap_mb": res["max_heap_mb"], "spark": res["spark_version"],
                    "tables": str(tables.relative_to(ROOT)),
                    "table_sf": sf,
                    "steal_frac": (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)},
            "end_to_end": e2e, "notes": notes, "per_layer": layer,
            "skipped": skipped, "attempted": attempted, "failed": failed,
            "failed_frac": failed / attempted, "failures": failures,
            "errors": res["errors"], "passes": res["passes"],
            "info": dict(res["info"], peak_rss_mb=res["peak_rss_mb"]),
            "samples": res["samples"],
        }
        rec_dir = BUILD / "records"
        rec_dir.mkdir(exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        (rec_dir / f"{stem}.json").write_text(json.dumps(record, indent=1))
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", rec_dir / f"{stem}-spans.jsonl")

        print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
              f"local[{cpus}]  heap {res['max_heap_mb']} MB  "
              f"passes {len(res['passes'])}")
        for name, m in metrics.items():
            print(f"  {name:<36} {m['value']:>14.4f} {m['unit']:<6} "
                  f"{skipped.get(name, notes.get(name, ''))}")
        if expected is not None and not a.trace:
            rates = customs_rates(res, expected)
            print(f"  declarations_rows_per_s {rates['pipelines.declarations_rows_per_s']:.0f} "
                  f"(reference 1457)  manifests_rows_per_s "
                  f"{rates['pipelines.manifests_rows_per_s']:.0f}  "
                  f"train_s {rates['pipelines.train_s']:.3f}")
        print(f"  failed_frac {failed / attempted:.4f} ({failed} of {attempted} "
              f"operations and checks)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
