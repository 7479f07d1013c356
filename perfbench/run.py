"""Run one workload of the benchmark and print its result as one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark harness from source (perfbench/build.py) and the
synthetic corpus (perfbench/gen.py); later runs reuse both while their
sources are unchanged. Each run is one JVM on local[<cores>] that serves
`POST /query` from an in-process `api.Server` and drives it from client
threads in the same process. The run's exact answers come from DuckDB over
the same parquet files, or from the generator of the live table's
micro-batches, and every answer is checked (perfbench/checks.py).

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
harness calls the product path one public function at a time and the
metrics are per layer (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import workloads  # noqa: E402

OUT = os.path.join(HERE, ".out")
SF = "0.1"
FACT_FILES = ["lineitem.parquet"]
STAR_PANELS = {"star_group", "star_range"}
WARM_ROUNDS = {"dashboard": 4, "sampled": 1}
HEAP = "4g"
JVM_TIMEOUT_S = 170


def metric_names(kind):
    """(name, unit) of the "end_to_end" or "per_layer" metrics in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def steal_ticks():
    """Cumulative CPU steal of the host, from /proc/stat (0 where absent)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def corpus():
    key = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    d = os.path.join(OUT, "data", f"sf{SF}-{key}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, SF], check=True)
        open(os.path.join(d, "done"), "w").close()
    return d


def write_schedule(path, setup_batch, rounds):
    with open(path, "w") as f:
        for row in setup_batch:
            f.write("S\t" + "\t".join(str(x) for x in row) + "\n")
        for r in rounds:
            f.write(f"R\t{1 if r['warm'] else 0}\n")
            for row in r["batch"] or []:
                f.write("D\t" + "\t".join(str(x) for x in row) + "\n")
            for q in r["requests"]:
                f.write(f"Q\t{q['id']}\t{q['body']}\n")


class Oracle:
    """DuckDB over the corpus; answers cached on disk by (query, corpus).
    Delete perfbench/.out/oracle to compute them again."""

    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.dir = os.path.join(OUT, "oracle")
        os.makedirs(self.dir, exist_ok=True)
        self.con = None

    def _connect(self):
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("lineitem", "orders", "supplier", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, t)}.parquet'")
        # the engine side's ten-fold UNION ALL view (Harness.scala)
        con.execute("CREATE VIEW lineitem_x10 AS " +
                    " UNION ALL ".join(["SELECT * FROM lineitem"] * 10))
        return con

    def table(self, sql):
        """(columns, rows) of the query's answer."""
        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = self._connect()
        cur = self.con.execute(sql)
        answer = [[d[0] for d in cur.description], [list(r) for r in cur.fetchall()]]
        with open(path + ".tmp", "w") as f:
            json.dump(answer, f)
        os.replace(path + ".tmp", path)
        return answer

    def rows(self, sql):
        cols, rows = self.table(sql)
        return [dict(zip(cols, r)) for r in rows]


def check_run(workload, setup_batch, rounds, res, data_dir, trace):
    """Checks every answer; returns (problems, failed, attempted, devs)."""
    oracle = Oracle(data_dir)
    truth = checks.LiveTruth()
    truth.add(setup_batch)
    problems, devs, seen, paths = [], [], set(), {}
    failed = attempted = 0
    for sched, got in zip(rounds, res["rounds"]):
        timed = not sched["warm"]
        if sched["batch"]:
            truth.add(sched["batch"])
            attempted += timed
        for q, g in zip(sched["requests"], got["requests"]):
            assert q["id"] == g["id"]
            attempted += timed
            try:
                resp = json.loads(g["body"]) if g["code"] == 200 else None
            except ValueError:
                resp = None
            if resp is None or resp.get("status") != "success":
                failed += timed
                print(f"perfbench: {q['id']} failed: HTTP {g['code']}: {g['body'][:200]}",
                      file=sys.stderr)
                continue
            plan = resp.get("plan", {})
            paths[q["id"]] = plan.get("serve") or plan.get("sample_table") or plan.get("type")
            if q["live"] is not None:
                p, d = checks.check_live(resp, truth, q["id"], q["live"])
            else:
                p, d = checks.check_rows(resp, oracle.rows(q["truth"]), q["keys"], q["tol"],
                                         max_rel=q["max_rel_error"],
                                         approx_budget=workload == "sampled")
                if q["exact_required"] and checks.is_approximate(resp):
                    p.append("prefer_exact answered approximately")
            if p and checks.is_approximate(resp) and not q["exact_required"]:
                # an estimate outside its bound: the engine missed its error
                # contract on this request, a failed operation
                failed += timed
                print(f"perfbench: {q['id']} failed: {p[0]}  [{q['sql']}]", file=sys.stderr)
                p = []
            problems += [f"{q['id']}: {x}  [{q['sql']}]" for x in p]
            # a request's answer is fixed by its text (blobs and samples are
            # built from fixed seeds), so each distinct request counts once
            if q["sql"] not in seen:
                seen.add(q["sql"])
                devs += d
    if workload == "dashboard":
        problems += checks.check_digests(res["digests"])
    if workload == "sampled":
        op = res["operator"]
        problems += [f"{op['name']}: {x}" for x in checks.check_operator(
            op["columns"], op["rows"], *oracle.table(op["oracle"]))]
    if trace and workload == "dashboard":
        supplier_rows = duckdb.sql(
            f"SELECT count(*) FROM '{os.path.join(data_dir, 'supplier.parquet')}'").fetchone()[0]
        for c in res.get("answers", []):
            if c["id"].startswith("live_"):
                # the live view is empty: rows read there are not the live
                # table's, and an answer that read it instead of the blobs
                # fails its check against the running totals
                continue
            allowance = supplier_rows if c["id"] in STAR_PANELS else 1
            problems += [f"{c['id']}: {x}" for x in checks.check_scan(
                c["served"], c["scan_rows"], c["files"], allowance, FACT_FILES)]
    print("perfbench: answered by " + json.dumps(paths, sort_keys=True), file=sys.stderr)
    return problems, failed, attempted, devs


def end_to_end(res, setup_s, devs):
    timed = [r for r in res["rounds"] if not r["warm"]]
    lat = [q["ms"] for r in timed for q in r["requests"]]
    q = statistics.quantiles(lat, n=10, method="inclusive")
    return {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(lat),
        "query_p90_ms": q[8],
        "queries_per_s": len(lat) / res["timed_s"],
        "round_ms": statistics.median(r["ms"] for r in timed),
        "catalog_mb": res["catalog.bytes"] / 1e6,
        "estimate_dev": statistics.fmean(devs) if devs else 0.0,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the root of a checkout (src/main/scala not found)")
    classpath = build.ensure(root)
    data_dir = corpus()

    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        # enough rounds for the slowest host; the harness stops at --seconds
        setup_batch, rounds = workloads.WORKLOADS[a.workload](a.seed, 400,
                                                              WARM_ROUNDS[a.workload])
        schedule = os.path.join(run_dir, "schedule.tsv")
        write_schedule(schedule, setup_batch, rounds)
        result = os.path.join(run_dir, "result.json")
        cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir}/tmp",
               *build.JVM_OPENS, "-cp", classpath, "perfbench.Harness", a.workload,
               schedule, str(a.seconds), str(a.trace), data_dir,
               os.path.join(run_dir, "work"), result]
        steal0 = steal_ticks()
        launch = time.time()
        try:
            with open(os.path.join(run_dir, "jvm.log"), "w") as log:
                rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = f"a timeout after {JVM_TIMEOUT_S} s"
        steal = steal_ticks() - steal0
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench: harness ended with {rc}")
        with open(result) as f:
            res = json.load(f)
        setup_s = res["timed_start_ms"] / 1000.0 - launch
        rounds = rounds[:len(res["rounds"])]
        problems, failed, attempted, devs = check_run(a.workload, setup_batch, rounds, res,
                                                      data_dir, a.trace == 1)
        for p in problems[:20]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if a.trace:
            spans = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            with open(spans, "w") as f:
                json.dump({"steal_ticks": steal, "end_to_end": end_to_end(res, setup_s, devs),
                           **{k: res.get(k) for k in ("layers", "answers", "phases_s", "spans")}},
                          f)
            values = dict(res.get("layers", {}))
            for k in ("jvm.gc_ms", "jvm.jit_ms", "jvm.heap_peak_mb", "io.write_bytes_timed",
                      "catalog.bytes", "catalog.files", "learn.bytes"):
                values[k] = res[k]
            names = metric_names("per_layer")
        else:
            values = end_to_end(res, setup_s, devs)
            names = metric_names("end_to_end")
        print(f"perfbench: workload={a.workload} seed={a.seed} steal_ticks={steal} "
              f"rounds={sum(not r['warm'] for r in res['rounds'])} "
              f"round_ms={[round(r['ms']) for r in res['rounds']]} "
              f"phases_s={json.dumps(res.get('phases_s'))} "
              f"wall_s={time.time() - launch:.1f}", file=sys.stderr)
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
