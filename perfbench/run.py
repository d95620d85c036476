#!/usr/bin/env python3
"""perfbench: seeded end-to-end and per-layer benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kq_operators --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload topic_wordcount --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --smoke      # every code path, tiny inputs

It builds the engine and the harness (perfbench/build.sbt) once per
source state, generates the workload's inputs from the seed, runs the
harness JVM, checks the outputs, prints every metric as
`<name> <value> <unit> n=<samples>`, writes the same record to
perfbench/results/, and prints one JSON object as the last line.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("topic_wordcount", "kq_operators")
RUN_LIMIT_S = 175.0

# base tables the batch inputs are subsampled from (copies of the
# engine's sf0.01 / sf0.001 fixtures)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    out = []
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += ["build.sbt", "perfbench/build.sbt"]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; return the launch spec."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    launch_file = os.path.join(BUILD, "launch.txt")
    stamp = source_stamp()
    if os.path.exists(launch_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return read_launch(launch_file)
    log("building engine and harness (sbt writeLaunch)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}); see .bench_build/build.log")
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return read_launch(launch_file)


def read_launch(path):
    with open(path) as f:
        lines = [x.rstrip("\n") for x in f if x.strip()]
    return lines[0], lines[1:]


# ------------------------------------------------------------- inputs

def generate_tables(scale, seed, out):
    """Seeded, FK-consistent subsample of the base tables: drop ~10% of
    customers with their orders and lineitems, ~10% of documents, of
    embeddings and of event users. One parquet file per table."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = os.path.join(HERE, "data", scale)
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    t = {name: pq.read_table(os.path.join(base, f"{name}.parquet")) for name in TABLES}

    def drop_keys(table, col):
        keys = sorted(set(table.column(col).to_pylist()))
        return [k for k in keys if rng.random() < 0.10]

    def holds(table, col, keys):
        return pc.is_in(table.column(col), value_set=pa.array(keys, type=table.schema.field(col).type))

    def without(table, col, keys):
        return table.filter(pc.invert(holds(table, col, keys)))

    gone_cust = drop_keys(t["customer"], "c_custkey")
    gone_orders = t["orders"].filter(holds(t["orders"], "o_custkey", gone_cust)).column("o_orderkey").to_pylist()
    t["customer"] = without(t["customer"], "c_custkey", gone_cust)
    t["orders"] = without(t["orders"], "o_custkey", gone_cust)
    t["lineitem"] = without(t["lineitem"], "l_orderkey", gone_orders)
    for name, col in (("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "user_id")):
        t[name] = without(t[name], col, drop_keys(t[name], col))
    for name, table in t.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------- run

def java_cmd(launch, work, args):
    cp, opts = launch
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only and a fixed initial heap: with C2 and a growing heap the
    # program kept speeding up for over a minute, longer than a run, and
    # how far it got depended on how busy the host was
    return (["java"] + opts +
            ["-Xmx3g", "-Xms2g", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, log_path, deadline):
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"harness JVM exceeded the run limit; see {log_path}")
    if rc != 0:
        raise BenchError(f"harness JVM failed (exit {rc}); see {log_path}")


def host_cpu():
    """The aggregate `cpu` line of /proc/stat (user … steal), or None."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return [int(x) for x in fields[1:9]] if fields[0] == "cpu" else None
    except (OSError, ValueError, IndexError):
        return None


def check_oracle(gen, verify_dir, queries):
    """tools/check_oracle.py over Verify's outputs: {query: None | cause}."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        gen, verify_dir] + list(queries),
                       cwd=ROOT, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    verdict = {}
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, cause = line[5:].partition(":")
            verdict[name.strip()] = "oracle mismatch:" + cause
    for q in queries:
        verdict.setdefault(q, "oracle check produced no verdict")
    return verdict


def run_once(workload, seed, seconds, trace, scale="sf0.001", topic_args=()):
    launch = build()
    # the JVM's share of the run limit; the oracle check runs after it
    deadline = time.time() + RUN_LIMIT_S - 15
    t_setup = time.time()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--record", record_path]
    inputs = {}
    if workload == "kq_operators":
        gen = os.path.join(work, "gen")
        inputs = generate_tables(scale, seed, gen)
        args += ["--gen", gen]
    else:
        args += list(topic_args)
    t_jvm = time.time()
    args += ["--launched-ms", repr(t_jvm * 1e3)]
    cpu0 = host_cpu()
    run_jvm(java_cmd(launch, work, args), os.path.join(work, "jvm.log"), deadline)
    cpu1 = host_cpu()
    with open(record_path) as f:
        rec = json.load(f)
    rec["run_s"] = {"generate": t_jvm - t_setup, "jvm": time.time() - t_jvm}
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # run with a high share was measured on a contended host
    if cpu0 and cpu1:
        total = sum(cpu1) - sum(cpu0)
        rec["host_steal_frac"] = (cpu1[7] - cpu0[7]) / total if total > 0 else None
    rec["inputs"] = {"scale": scale, "rows": inputs} if inputs else {"args": list(topic_args)}
    rec["source_stamp"] = source_stamp()
    rec["e2e"]["setup_s"] = {"value": rec["setup_end_ms"] / 1e3 - t_setup, "unit": "s", "n": 1}

    if workload == "kq_operators":
        t_check = time.time()
        queries = rec["report"]["queries"]
        passes = rec["report"]["passes"]
        verdict = check_oracle(gen, os.path.join(work, "verify"), queries)
        for q, cause in sorted(verdict.items()):
            if cause:
                # every timed execution of q is wrong; those that threw are counted already
                threw = sum(1 for fl in rec["failures"] if fl["what"] == q)
                rec["failed"] += passes - threw
                rec["failures"].append({"what": q, "cause": cause})
        rec["oracle"] = {"checked": len(verdict), "failed": sum(1 for c in verdict.values() if c)}
        rec["run_s"]["oracle_check"] = time.time() - t_check
    spans = rec["report"].get("spans_file")
    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}"
    if spans:
        dst = os.path.join(RESULTS, f"{tag}-spans.jsonl")
        shutil.move(spans, dst)
        rec["report"]["spans_file"] = os.path.relpath(dst, ROOT)
    if trace:
        rec["tracing_overhead"] = overhead(rec, workload)
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    return rec


def run_shape(rec):
    return (rec["seconds"], rec["inputs"].get("scale"), rec["inputs"].get("args"),
            rec.get("source_stamp"))


def overhead(traced, workload):
    """Traced minus untraced end-to-end numbers: this traced run against the
    median of the correct untraced records of the workload in
    perfbench/results/ with the same run length, inputs and sources (one
    untraced run differs from the next by more than tracing costs)."""
    base = {}
    for name in sorted(glob.glob(os.path.join(RESULTS, f"{workload}-s*-t0.json"))):
        with open(name) as f:
            rec = json.load(f)
        if rec["failed"] or run_shape(rec) != run_shape(traced):
            continue  # a failed run, or another run length, input size or build
        for k, m in rec["e2e"].items():
            base.setdefault(k, []).append(m["value"])
    out = {}
    for k, m in traced["e2e"].items():
        if base.get(k) and statistics.median(base[k]):
            ref = statistics.median(base[k])
            d = m["value"] - ref
            out[k] = {"traced": m["value"], "untraced_median": ref, "untraced_runs": len(base[k]),
                      "diff": d, "share": d / ref, "unit": m["unit"]}
    return out or None


# ------------------------------------------------------------- report

def fmt(v):
    return "nan" if v is None else f"{v:.6g}"


def print_record(rec, trace):
    print(f"workload {rec['workload']} seed {rec['seed']} trace {int(rec['trace'])} "
          f"cpus {rec['cpus']} seconds {rec['seconds']}")
    frac = rec["failed"] / max(1, rec["attempted"])
    print(f"failed_frac {frac:.6g} 1 n={rec['attempted']}")
    if rec.get("host_steal_frac") is not None:
        print(f"host_steal_frac {rec['host_steal_frac']:.4g} 1 n=1")
    for fl in rec["failures"][:20]:
        print(f"failure {fl['what']}: {fl['cause']}")
    sections = [("e2e", rec["e2e"]), ("detail", rec["detail"])]
    if trace:
        sections.append(("layer", rec["layers"]))
    for _, ms in sections:
        for k in sorted(ms):
            m = ms[k]
            print(f"{k} {fmt(m['value'])} {m['unit']} n={m['n']}")
    if trace:
        rep = rec["report"]
        print("self time by span kind (kind spans total_ms self_ms):")
        for row in rep.get("self_time_ms", []):
            print(f"  span.{row['kind']} {row['spans']} {row['total_ms']:.1f} {row['self_ms']:.1f}")
        cov = rep.get("query_coverage")
        if cov:
            print(f"query coverage: {cov['queries']} queries, min (idle + own jobs)/wall "
                  f"{fmt(cov['min_coverage'])}, short {cov['short_queries']}, "
                  f"jobs overhanging {cov['jobs_overhanging']}, "
                  f"jobs between queries {cov['jobs_between_queries']}")
        ov = rec.get("tracing_overhead")
        if ov is None:
            print("tracing overhead: no untraced record of this workload "
                  "(run with --trace 0 first)")
        else:
            for k in sorted(ov):
                o = ov[k]
                print(f"tracing_overhead.{k} {o['diff']:+.6g} {o['unit']} ({o['share']:+.1%} of the "
                      f"untraced median {o['untraced_median']:.6g} over {o['untraced_runs']} runs)")
        print(f"spans {rep.get('spans_file')}")


def contract_metrics(rec, trace):
    """The metrics BENCHMARK.json names for this mode, taken from the record."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {}
    source = rec["layers"] if trace else rec["e2e"]
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in source:
            out[name] = {"value": source[name]["value"], "unit": m["unit"]}
        elif trace and m["unit"] == "count":
            # a layer this workload does not exercise did no work
            out[name] = {"value": 0, "unit": "count"}
        else:
            raise BenchError(f"metric {name} missing from the {rec['workload']} record")
        if out[name]["value"] is None:
            raise BenchError(f"metric {name} was not measured")
    return out


# --------------------------------------------------------------- main

SMOKE_TOPIC = ("--vocab", "2000", "--batch", "1000", "--probe-batch", "200", "--warmup-batches", "1", "--rate", "1000")


def smoke():
    """Every code path at sf0.001 and a tiny stream: each workload untraced,
    then traced (so the overhead report runs too)."""
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            rec = run_once(w, 1, 2, trace, scale="sf0.001", topic_args=SMOKE_TOPIC)
            print_record(rec, trace)
            metrics = contract_metrics(rec, trace)
            ok &= rec["failed"] == 0
            print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                              "failed": rec["failed"], "metrics": metrics}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="short run of every code path")
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("no engine sources next to the benchmark (src/main/scala/graft, build.sbt)")
        return 2
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        rec = run_once(a.workload, a.seed, a.seconds, a.trace)
        metrics = contract_metrics(rec, a.trace)
    except BenchError as e:
        log(str(e))
        return 1
    print_record(rec, a.trace)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
