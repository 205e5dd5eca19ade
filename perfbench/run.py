#!/usr/bin/env python3
"""graft's benchmark: replica catch-up, live tail under reads, training gates.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/jvm, which compiles the engine's sources
with its own) when its sources changed, generates the seeded inputs,
runs the workload in a fresh JVM on a local[4] Spark session, checks the
outputs, and prints one JSON result line last. With --trace 1 it runs the
workload twice, untraced and traced, prints the per-layer metrics and
writes the layer record to .bench_work/layers/. Workloads, metrics and
their layers are described in perfbench/README.md.
"""
import argparse
import functools
import hashlib
import importlib.util
import json
import glob
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
JVM_DIR = os.path.join(HERE, "jvm")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("replica", "training_gates")
# the star-schema tables the snapshot and the gates read; warm-up uses a
# small fixed set
TABLE_SCALE = 1.0
TINY_SCALE = 0.01
TINY_SEED = 20240101
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
# oracle results shipped with the benchmark (see check_gates)
EXPECTED_DIR = os.path.join(HERE, "expected")
TABLE_REF = re.compile(r"\b(?:FROM|JOIN)\s+([a-z_]+)\b")

sys.path.insert(0, HERE)
import gen_tables  # noqa: E402


def log(msg):
    print(msg, flush=True)


def source_files():
    for top in (ENGINE_SRC, JVM_DIR):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or \
                        "META-INF" in d:
                    yield os.path.join(d, f)


@functools.lru_cache(maxsize=None)
def build_stamp():
    """Digest of every source the harness build compiles."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and engine; returns the runtime classpath."""
    stamp = build_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt is not on PATH")
    t0 = time.time()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=JVM_DIR, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("harness build failed")
    cps = [ln.strip() for ln in r.stdout.splitlines()
           if "classes" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cps:
        raise RuntimeError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built harness in {time.time() - t0:.1f} s")
    return cps[-1]


def java_cmd(cp, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for o in opens:
        cmd += ["--add-opens", o]
    return cmd + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "perfbench.Main"] + args


def run_jvm(cp, args, tag):
    """Run the harness main; its stdout/stderr go to a log file."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    path = os.path.join(WORK, "logs", f"{tag}.log")
    with open(path, "w") as out:
        p = subprocess.Popen(java_cmd(cp, args), cwd=ROOT,
                             stdin=subprocess.DEVNULL, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness run {tag} timed out; see {path}")
    if rc != 0:
        with open(path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness run {tag} exited {rc}")
    return path


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def inputs_digest(con, sql):
    """sha256 of `sql` and the sorted rows of every table it reads."""
    views = {r[0] for r in con.execute(
        "SELECT view_name FROM duckdb_views() WHERE NOT internal").fetchall()}
    h = hashlib.sha256(sql.encode())
    for t in sorted(set(TABLE_REF.findall(sql)) & views):
        h.update(t.encode())
        for row in con.execute(f"SELECT * FROM {t} ORDER BY ALL").fetchall():
            h.update(repr(row).encode())
    return h.hexdigest()


def oracle_result(co, con, sql):
    """The oracle's canonical result: (columns, rows, types, unsafe types),
    as tools/check_oracle.py computes it."""
    unsafe = co.oracle_unsafe_types(con, sql)
    exp = con.execute(sql)
    ecols = [c[0] for c in exp.description]
    et = {c[0]: str(c[1]) for c in exp.description}
    ec, er = co.canon(exp.fetchall(), ecols)
    return ec, er, et, unsafe


def expected_result(co, con, name, sql):
    """The oracle result for `name`: from perfbench/expected when an entry
    was computed from the same SQL over the same inputs (the dedup gates'
    oracles take minutes of DuckDB on 5,000 documents), else from DuckDB
    now."""
    path = os.path.join(EXPECTED_DIR, f"{name}.json")
    if os.path.exists(path):
        digest = inputs_digest(con, sql)
        with open(path) as f:
            for e in json.load(f):
                if e["inputs_sha256"] == digest:
                    return (e["columns"], [tuple(r) for r in e["rows"]],
                            e["types"], e["oracle_unsafe"])
    return oracle_result(co, con, sql)


def duckdb_views(tables_dir):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_gates(tables_dir, out_dir):
    """Failures among the gate outputs in `out_dir`, judged as
    tools/check_oracle.py judges them: output types, schema, column
    types, then every value (canonicalized by its `canon`)."""
    co = load_check_oracle()
    con = duckdb_views(tables_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, "errors.json")) as f:
        errs = json.load(f)
    bad = []
    for name in sorted(oracle):
        if name in errs:
            bad.append(f"{name}: VERIFY_ERROR {errs[name]}")
            continue
        d = os.path.join(out_dir, name)
        parts = glob.glob(os.path.join(d, "*.parquet"))
        if not parts:
            bad.append(f"{name}: NO_OUTPUT")
            continue
        unsafe = [f"{f.name}:{f.type}" for f in co.pq.read_schema(parts[0])
                  if any(k in str(f.type) for k in co.UNSAFE)]
        got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        gcols = [c[0] for c in got.description]
        gt = {c[0]: str(c[1]) for c in got.description}
        gc, gr = co.canon(got.fetchall(), gcols)
        try:
            ec, er, et, oracle_unsafe = expected_result(co, con, name, oracle[name])
        except Exception as e:
            bad.append(f"{name}: ORACLE_ERROR {e}")
            continue
        badtypes = [c for c in gt if c in et and gt[c] != et[c]]
        if unsafe:
            bad.append(f"{name}: TYPE_UNSAFE {unsafe}")
        elif oracle_unsafe:
            bad.append(f"{name}: ORACLE_TYPE_UNSAFE {oracle_unsafe}")
        elif list(gc) != list(ec):
            bad.append(f"{name}: SCHEMA_MISMATCH spark={gc} oracle={ec}")
        elif badtypes:
            bad.append(f"{name}: TYPE_MISMATCH {badtypes}")
        elif gr != er:
            bad.append(f"{name}: VALUE_MISMATCH spark={len(gr)} rows, "
                       f"oracle={len(er)} rows")
    return bad


def run_once(cp, a, trace, tables, tiny):
    tag = f"{a.workload}-seed{a.seed}-trace{int(trace)}"
    out = os.path.join(WORK, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", "1" if trace else "0",
                 "--work", WORK, "--tables", tables, "--tiny", tiny,
                 "--out", out], tag)
    with open(out) as f:
        rec = json.load(f)
    if a.workload == "training_gates":
        bad = [b for b in check_gates(tables, rec["detail"]["outputs"])
               if "VERIFY_ERROR" not in b]  # already counted by the harness
        rec["failed"] += len(bad)
        rec["errors"] += [f"oracle: {b[:300]}" for b in bad]
    # keyed by the build, so a traced run can pair with this one
    rec["build"] = build_stamp()
    rec["seconds"] = a.seconds
    with open(out, "w") as f:
        json.dump(rec, f)
    return rec


def untraced_record(a):
    """The checked untraced record of this workload, seed and build from
    an earlier run in this checkout, if any."""
    path = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace0.json")
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    ok = rec.get("build") == build_stamp() and rec.get("seconds") == a.seconds
    return rec if ok else None


def e2e_metrics(rec, spec):
    m = dict(rec["metrics"])
    m["setup_s"] = rec["setup_s"]
    m["success_rate"] = 1.0 - rec["failed"] / rec["attempted"]
    return {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
            for x in spec["end_to_end"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.stderr.write("engine sources (src/main/scala/graft) not found: "
                         "run from the root of a graft checkout\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    # inputs: the seeded tables, and the fixed small set for warm-up
    tables = os.path.join(WORK, "tables")
    tiny = os.path.join(WORK, "tiny")
    shutil.rmtree(tables, ignore_errors=True)
    gen_tables.write(tables, a.seed, TABLE_SCALE)
    if not os.path.exists(os.path.join(tiny, "_SEED")):
        shutil.rmtree(tiny, ignore_errors=True)
        gen_tables.write(tiny, TINY_SEED, TINY_SCALE)
        open(os.path.join(tiny, "_SEED"), "w").close()

    # a traced run pairs with the untraced run of the same seed and build:
    # an earlier one in this checkout, else one made now
    rec = untraced_record(a) if a.trace else None
    recs = []  # the records of the runs made now
    if rec is None:
        rec = run_once(cp, a, False, tables, tiny)
        recs.append(rec)
    result = {"metrics": e2e_metrics(rec, spec)}
    if a.trace:
        traced = run_once(cp, a, True, tables, tiny)
        recs.append(traced)
        layer = traced["layer"]
        per = dict(layer.get("per_layer", {}))
        base = rec["metrics"]["total_s"]
        per["trace.overhead_pct"] = \
            100.0 * (traced["metrics"]["total_s"] - base) / base
        layer["per_layer"] = per
        os.makedirs(os.path.join(WORK, "layers"), exist_ok=True)
        path = os.path.join(WORK, "layers", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "untraced": {k: rec[k] for k in ("metrics", "detail", "setup_s")},
                       "traced": traced}, f, indent=1)
        log(f"layer record: {os.path.relpath(path, ROOT)}")
        result = {"metrics": {x["name"]: {"value": float(per.get(x["name"]) or 0.0),
                                          "unit": x["unit"]}
                              for x in spec["per_layer"]}}
    for r in recs:
        for e in r["errors"]:
            log(f"error: {e}")
        for k, v in sorted(r["detail"].items()):
            if isinstance(v, (int, float)):
                log(f"{a.workload} {k} = {v}")
    attempted = sum(r["attempted"] for r in recs)
    failed = sum(r["failed"] for r in recs)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
