#!/usr/bin/env python3
"""The repo benchmark: one workload, one Spark JVM, one JSON result line.

    python3 perfbench/run.py --workload eager_build --seed 1 --seconds 15 --trace 0

Workloads: uba_batch, eager_build, uba_stream (see perfbench/README.md).
With --trace 0 the result carries the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run, whose spans are written to
.bench_build/perfbench/runs/<workload>-<seed>-trace1/trace.json.

The first run in a checkout builds the engine and the harness
(perfbench/build.py). Outputs are checked on every run: batch queries against
their DuckDB oracles, stream jobs against batch operators and recorded hashes.
`--record` rewrites the stream hashes (perfbench/expected_stream.json) from a
full replay; run it only on a commit whose stream outputs are known good.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no caches beside the sources
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected_stream.json")
WORKLOADS = ("uba_batch", "eager_build", "uba_stream")
RUN_TIMEOUT_S = 170

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(args, work, timeout=RUN_TIMEOUT_S):
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    cmd = build.jvm_command(args + ["--data", DATA, "--work", work, "--expected", EXPECTED],
                            os.path.join(work, "tmp"), f"-XX:SharedArchiveFile={build.CDS}")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=timeout, cwd=work)
        except subprocess.TimeoutExpired:
            fail(f"JVM run exceeded {timeout} s; log in {log_path}")
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        fail(f"JVM run failed (exit {r.returncode}); log in {log_path}")
    raw = lines[-1][len("PERFBENCH "):]
    with open(os.path.join(work, "result.json"), "w") as f:
        f.write(raw)  # every operation's latency, for per-query comparisons
    return json.loads(raw)


def oracle_failures(res):
    """Compares each query's warm-pass output with its DuckDB oracle, by the
    row-count and order-independent hash rule of scripts/check_oracle.py."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from check_oracle import table_hash

    con = duckdb.connect()
    digest = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(res["data_dir"], "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        with open(p, "rb") as f:
            digest.update(name.encode() + f.read())
    data_key = digest.hexdigest()
    bad = dict(res["warm_errors"])
    for name in res["mix"]:
        if name in bad:
            continue
        files = glob.glob(os.path.join(res["out_dir"], name, "*.parquet"))
        src = con.execute(f"SELECT * FROM read_parquet({files!r})")
        s_cols = [d[0] for d in src.description]
        s_rows = src.fetchall()
        if len(s_rows) != res["warm_rows"][name]:
            bad[name] = f"written {len(s_rows)} rows, counted {res['warm_rows'][name]}"
            continue
        sql = res["oracle"].get(name)
        if sql is None:
            continue
        want = oracle_answer(con, sql, data_key, table_hash)
        if sorted(s_cols) != want["cols"]:
            bad[name] = f"schema {sorted(s_cols)} vs oracle {want['cols']}"
        elif len(s_rows) != want["rows"]:
            bad[name] = f"rows {len(s_rows)} vs oracle {want['rows']}"
        elif table_hash(s_rows, s_cols) != want["hash"]:
            bad[name] = f"hash differs from oracle ({len(s_rows)} rows)"
    return bad


def oracle_answer(con, sql, data_key, table_hash):
    """The oracle's sorted columns, row count and hash. They depend only on
    the SQL text and the input tables, so they are computed once per
    checkout: some oracles take DuckDB most of a minute."""
    key = hashlib.sha256((data_key + sql).encode()).hexdigest()
    path = os.path.join(build.OUT, "oracle", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    orc = con.execute(sql)
    cols = [d[0] for d in orc.description]
    rows = orc.fetchall()
    want = {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(rows, cols)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(want, f)
    return want


def p90(xs):
    xs = sorted(xs)
    return xs[max(0, math.ceil(0.9 * len(xs)) - 1)]


def mix_stats(ops, mix, field="ms"):
    """Per-kind medians: a pass is the sum, and every kind weighs the same
    in the geometric mean, so a fast query's change is not hidden."""
    med = [statistics.median(o[field] for o in ops if o["kind"] == k) for k in mix]
    return sum(med) / 1e3, math.exp(statistics.fmean(math.log(m) for m in med))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    try:
        build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    except subprocess.TimeoutExpired:
        fail("build timed out")

    runs = os.path.join(build.OUT, "runs")
    if a.record:
        run_jvm(["--record", "--seed", str(a.seed)], os.path.join(runs, "record"), timeout=1800)
        print(f"perfbench: wrote {os.path.relpath(EXPECTED, ROOT)}")
        return

    work = os.path.join(runs, f"{a.workload}-{a.seed}-trace{a.trace}")
    res = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)], work)

    ops = res["ops"]
    failures = {}
    if a.workload != "uba_stream":
        failures = oracle_failures(res)
        for o in ops:
            if o["kind"] in failures:
                o["ok"] = False
    else:
        failures = {k: v for k, v in res["checks"].items() if v}
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"] and o["error"]:
            failures.setdefault(o["kind"], o["error"])

    mix = res["mix"]
    # failed operations are timed too: `correct` and `failed` report them
    plain = [o for o in ops if not o["traced"]]
    metrics = {}
    lines = []
    if a.trace == 0:
        pass_s, geo = mix_stats(plain, mix)
        lat = [o["ms"] for o in plain]
        pass_cpu_s, _ = mix_stats(plain, mix, "cpu_ms")
        canary = statistics.median(res["canary_s"])
        values = {"setup_s": res["setup_s"], "pass_canaries": pass_s / canary,
                  "op_geomean_canaries": geo / 1e3 / canary}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        lines = [f"{k} {m['value']:.4f} {m['unit']}" for k, m in metrics.items()]
        lines += [f"pass_s {pass_s:.4f} s", f"op_geomean_ms {geo:.1f} ms",
                  f"pass_cpu_s {pass_cpu_s:.3f} s",
                  f"op_p50_ms {statistics.median(lat):.1f} ms", f"op_p90_ms {p90(lat):.1f} ms",
                  f"op_samples {len(lat)} count", f"env.canary_s {canary:.4f} s"]
        lines += [f"median_ms {k} {statistics.median(o['ms'] for o in plain if o['kind'] == k):.1f}"
                  for k in mix]
        if a.workload == "uba_stream":
            op_s = sum(lat) / 1e3
            lines += [
                f"stream_rows_per_s {len(plain) * res['rows_per_op'] / op_s:.1f} 1/s",
                f"rounds {res['rounds']} count"]
        else:
            passes = len(plain) / len(mix)
            lines += [f"query_geomean_s {geo / 1e3:.4f} s", f"passes {passes:.2f} count"]
    else:
        traced = [o for o in ops if o["traced"]]
        layers = dict(res["trace"])
        layers["jvm.heap_peak_mb"] = res["heap_peak_mb"]
        layers["env.canary_s"] = statistics.median(res["canary_s"])
        on, _ = mix_stats(traced, mix)
        off, _ = mix_stats(plain, mix)
        layers["trace.overhead_ratio"] = on / off
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        lines = [f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        lines.append(f"trace file {os.path.relpath(os.path.join(work, 'trace.json'), ROOT)}")
    lines.append(f"failed_ratio {failed / attempted:.4f} ratio")
    lines.append(f"seed {a.seed}  cores {res['cores']}  attempted {attempted}  failed {failed}")
    for k, v in failures.items():
        lines.append(f"FAILED {k}: {v}")
    for ln in lines:
        print(f"[{a.workload}] {ln}")
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
