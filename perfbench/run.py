#!/usr/bin/env python3
"""Message-filter benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--profile full|smoke]

Builds the program from source (perfbench/build.py), runs the workload in
one local[nproc] Spark JVM (perfbench/src/Harness.scala), checks its
outputs, prints every metric with unit and sample count, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the
per-layer ones. Workload constants live in perfbench/workloads.json;
README.md in this directory describes the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
JVM_TIMEOUT_S = 170
# a run during which the hypervisor took more than this share of the host's
# CPU time is measured again, once, if it ended within RERUN_WITHIN_S
STEAL_RERUN = 0.05
RERUN_WITHIN_S = 80
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def jvm(classes, args, work, timeout_s, heap):
    """Runs the harness JVM in its own process group; kills the group on timeout."""
    import build
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Harness"] + args)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness JVM exceeded {timeout_s} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def cpu_ticks():
    """(steal, total) CPU ticks of the host's `cpu` line; None where /proc is absent."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def oracle_compare(rec):
    """Each key's full result against its DuckDB oracle SQL on the same
    generated tables (the repo's oracle_check rule: columns
    sorted by name, rows in the declared order, values compared as text)."""
    import duckdb
    o = rec["oracle"]
    con = duckdb.connect()
    for t in TABLES:
        path = Path(o["tables"]) / f"{t}.parquet"
        if path.exists():  # a directory of files where a stream wrote the table
            src = path / "*.parquet" if path.is_dir() else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    fails = []
    for key, sql in sorted(o["sql"].items()):
        try:
            if sql is None:
                raise ValueError("no oracle SQL")
            odf = con.execute(sql).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet('{o['results']}/{key}/*.parquet')").fetchdf()
            cols = sorted(odf.columns)
            if cols != sorted(sdf.columns):
                raise ValueError(f"columns oracle={cols} spark={sorted(sdf.columns)}")
            ov, sv = odf[cols].astype(str).values.tolist(), sdf[cols].astype(str).values.tolist()
            if len(ov) != len(sv):
                raise ValueError(f"rows oracle={len(ov)} spark={len(sv)}")
            bad = next((i for i, (a, b) in enumerate(zip(ov, sv)) if a != b), None)
            if bad is not None:
                raise ValueError(f"row {bad}: oracle={ov[bad]} spark={sv[bad]}")
            rec["checks"].append({"check": f"{key} == oracle", "ok": True, "detail": f"{len(ov)} rows"})
        except Exception as e:  # noqa: BLE001 - any failure is a failed key
            fails.append(key)
            rec["checks"].append({"check": f"{key} == oracle", "ok": False, "detail": str(e)[:500]})
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--profile", default="full", choices=["full", "smoke"])
    a = ap.parse_args()

    sys.path.insert(0, str(BENCH))
    import build
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    consts = json.loads((BENCH / "workloads.json").read_text())[a.profile]
    if a.workload not in consts:
        raise SystemExit(f"perfbench: unknown workload {a.workload}; have {sorted(consts)}")
    t_start = time.time()
    classes = build.ensure()
    build_s = time.time() - t_start

    work = WORK / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    t_run = time.time()
    try:
        import inputs
        steal_before = None
        while True:
            shutil.rmtree(work, ignore_errors=True)
            work.mkdir(parents=True)
            t_gen = time.time()
            inputs.prepare(a.workload, a.seed, a.seconds, consts[a.workload], work)
            inputs_s = time.time() - t_gen
            out = work / "record.json"
            ticks0 = cpu_ticks()
            code = jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                 str(BENCH / "workloads.json"), a.profile, str(work), str(out)],
                       work, JVM_TIMEOUT_S - (time.time() - t_run), consts["driver_heap"])
            if code != 0 or not out.is_file():
                sys.stderr.write((work / "jvm.log").read_text()[-6000:])
                raise SystemExit(f"perfbench: harness exited with {code}")
            rec = json.loads(out.read_text())
            ticks1 = cpu_ticks()
            if not (ticks0 and ticks1 and ticks1[1] > ticks0[1]):
                break
            # CPU time the hypervisor gave to other guests while the JVM ran:
            # every stage of a run with a high share runs slower, so such a
            # run is measured once more, when there is time for it
            rec["host_steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
            if (rec["host_steal_frac"] <= STEAL_RERUN or steal_before is not None
                    or time.time() - t_run > RERUN_WITHIN_S):
                break
            steal_before = rec["host_steal_frac"]
        if steal_before is not None:
            rec["rerun_after_steal_frac"] = steal_before
        setup = rec["end_to_end"]["setup_s"]
        rec["setup_parts_s"] = {"inputs": inputs_s, "jvm_to_timing": setup["value"]}
        setup["value"] += inputs_s
        if "oracle" in rec:
            rec["failed"] += len(oracle_compare(rec))
            del rec["oracle"]
        rec["build_s"] = build_s
        rec["run_wall_s"] = time.time() - t_start
        rec["provenance"] = provenance(a, classes)
        spans = work / "spans.jsonl"
        report(rec, bench, a, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def provenance(a, classes):
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_hash": Path(classes).parent.name, "seed": a.seed,
            "workload": a.workload, "seconds": a.seconds, "profile": a.profile}


def report(rec, bench, a, spans):
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if spans.is_file():
        shutil.copy(spans, records / f"{stem}.spans.jsonl")
        rec["spans_file"] = str(records / f"{stem}.spans.jsonl")
    e2e = rec["end_to_end"]
    attempted, failed = max(1, int(rec["attempted"])), int(rec["failed"])
    rec["named"]["failed_frac"] = {"value": failed / attempted, "unit": "ratio", "samples": attempted}
    if a.trace:
        untraced = records / f"{a.workload}-seed{a.seed}-trace0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["end_to_end"]
            rec["trace_overhead"] = {k: e2e[k]["value"] - base[k]["value"]
                                     for k in e2e if k in base and e2e[k]["value"] is not None
                                     and base[k]["value"] is not None}
    (records / f"{stem}.json").write_text(json.dumps(rec, indent=1))

    g, v = rec["geometry"], rec["versions"]
    print(f"geometry: {g['master']} cpus={g['cpus']} shuffle_partitions={g['shuffle_partitions']} "
          f"driver_heap={g['driver_heap_mb']}MB host={g['host_cores']} cores/{g['host_mem_mb']}MB "
          f"spark={v['spark']} jdk={v['jdk']}")
    print(f"provenance: {json.dumps(rec['provenance'])}")
    if "rerun_after_steal_frac" in rec:
        print(f"host: {100 * rec['rerun_after_steal_frac']:.1f}% of CPU time stolen by the hypervisor "
              f"during the first measurement; measured again")
    if "host_steal_frac" in rec:
        print(f"host: {100 * rec['host_steal_frac']:.1f}% of CPU time stolen by the hypervisor during the run")
    for name, m in list(e2e.items()) + list(rec["named"].items()):
        print(f"{name}: {m['value']} {m['unit']} (n={m['samples']})")
    print(f"wall: {rec['run_wall_s']:.1f} s (build {rec['build_s']:.1f} s, inputs "
          f"{rec['setup_parts_s']['inputs']:.1f} s)")
    for c in rec["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']}: {c['detail']}")
    if "trace_overhead" in rec:
        print(f"trace overhead (traced - untraced, seed {a.seed}): {json.dumps(rec['trace_overhead'])}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics, source = {}, rec["per_layer"] if a.trace else e2e
    for m in wanted:
        value = source.get(m["name"])
        if isinstance(value, dict):
            value = value["value"]
        if value is None and a.trace:
            value = 0.0  # a layer this workload does not enter
        if value is None:
            raise SystemExit(f"perfbench: metric {m['name']} missing from the record")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = all(c["ok"] for c in rec["checks"]) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
