"""Per-stage attribution of the PageRank superstep loop (round-2 ask from
VERDICT.md #1: "Attach a SparkListener per-stage breakdown ... attribute
the ~2.3-2.8 s/superstep floor").

Runs PageRank for a FIXED number of supersteps at one parallelism level
with the Spark event log enabled, then parses the event log and prints:

  - iterate-phase wall, time covered by >=1 running stage, driver gap
    (wall minus stage-covered time = pure driver/scheduling dead time)
  - per-stage-group totals: wall, task-time, CPU, GC, shuffle write/read,
    fetch wait, deserialize/serialize, occupancy (task-time / wall*cores)

Usage: python tools/stage_profile.py <spec> <backend> <nodes> [supersteps]
  spec = <cores> for local[N] or lc<execs>x<cores> for local-cluster.
Prints one PROFILE json line.
"""

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/root/repo/.eventlogs"


def build_spark(spec: str, app: str):
    from pyspark.sql import SparkSession

    os.makedirs(EVDIR, exist_ok=True)
    common = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": f"file://{EVDIR}",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.enabled": os.environ.get("AQE", "true"),
        "spark.sql.adaptive.coalescePartitions.enabled": os.environ.get("COALESCE", "true"),
        "spark.shuffle.compress": os.environ.get("SHUFFLE_COMPRESS", "true"),
        "spark.sql.join.preferSortMergeJoin": os.environ.get("PREFER_SMJ", "true"),
        "spark.driver.memory": os.environ.get("DRIVER_MEM", "12g"),
    }
    if spec.startswith("lc"):
        n_exec, per = (int(x) for x in spec[2:].split("x"))
        total = n_exec * per
        exec_mem_mb = int(os.environ.get("EXEC_MEM_MB", "20480"))
        b = SparkSession.builder.master(f"local-cluster[{n_exec},{per},{exec_mem_mb}]").appName(app)
        common["spark.executor.memory"] = f"{exec_mem_mb}m"
    else:
        total = int(spec)
        b = SparkSession.builder.master(f"local[{total}]").appName(app)
    common["spark.sql.shuffle.partitions"] = os.environ.get("SHUF_PART", str(total))
    common["spark.default.parallelism"] = str(total)
    for k, v in common.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark, total


def _eventlog_lines(path: str):
    # Spark 4 rolling layout: eventlog_v2_<appid>/events_*_<appid>
    v2 = os.path.join(os.path.dirname(path), "eventlog_v2_" + os.path.basename(path))
    if os.path.isdir(v2):
        files = sorted(f for f in os.listdir(v2) if f.startswith("events"))
        for fn in files:
            if fn.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", os.path.join(v2, fn)], capture_output=True, text=True
                )
                yield from out.stdout.splitlines()
            else:
                with open(os.path.join(v2, fn)) as f:
                    yield from f
    else:
        with open(path) as f:
            yield from f


def parse_eventlog(path: str, t0_ms: float, t1_ms: float, cores: int):
    stages = {}  # sid -> dict
    task_agg = {}  # sid -> metric sums
    if True:
        for line in _eventlog_lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub is None or comp is None:
                    continue
                if comp < t0_ms or sub > t1_ms:
                    continue
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "sub": sub,
                    "comp": comp,
                    "wall": (comp - sub) / 1000.0,
                    "ntasks": si.get("Number of Tasks", 0),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                if not tm:
                    continue
                a = task_agg.setdefault(
                    sid,
                    dict(run=0.0, cpu=0.0, gc=0.0, deser=0.0, ser=0.0,
                         sh_write=0.0, fetch_wait=0.0, sh_read_mb=0.0,
                         sh_write_mb=0.0, spill_mb=0.0, n=0),
                )
                a["run"] += tm.get("Executor Run Time", 0) / 1000.0
                a["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc"] += tm.get("JVM GC Time", 0) / 1000.0
                a["deser"] += tm.get("Executor Deserialize Time", 0) / 1000.0
                a["ser"] += tm.get("Result Serialization Time", 0) / 1000.0
                sw = tm.get("Shuffle Write Metrics") or {}
                a["sh_write"] += sw.get("Shuffle Write Time", 0) / 1e9
                a["sh_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                sr = tm.get("Shuffle Read Metrics") or {}
                a["fetch_wait"] += sr.get("Fetch Wait Time", 0) / 1000.0
                a["sh_read_mb"] += (
                    sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                ) / 1e6
                a["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / 1e6
                a["n"] += 1

    # driver gap: time in [t0,t1] with no stage running
    ivals = sorted((s["sub"], s["comp"]) for s in stages.values())
    covered = 0.0
    cur_s, cur_e = None, None
    for s, e in ivals:
        s, e = max(s, t0_ms), min(e, t1_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    covered /= 1000.0
    wall = (t1_ms - t0_ms) / 1000.0

    # group by normalized stage name (strip ids/numbers)
    groups = {}
    for sid, s in stages.items():
        gname = re.sub(r"[0-9]+", "#", s["name"].split("\n")[0])[:80]
        g = groups.setdefault(
            gname,
            dict(wall=0.0, nstages=0, ntasks=0, run=0.0, cpu=0.0, gc=0.0,
                 deser=0.0, ser=0.0, sh_write=0.0, fetch_wait=0.0,
                 sh_read_mb=0.0, sh_write_mb=0.0, spill_mb=0.0),
        )
        g["wall"] += s["wall"]
        g["nstages"] += 1
        g["ntasks"] += s["ntasks"]
        for k in ("run", "cpu", "gc", "deser", "ser", "sh_write", "fetch_wait",
                  "sh_read_mb", "sh_write_mb", "spill_mb"):
            g[k] += task_agg.get(sid, {}).get(k, 0.0)
    for g in groups.values():
        g["occupancy"] = round(g["run"] / (g["wall"] * cores), 3) if g["wall"] else 0.0
        for k in list(g):
            if isinstance(g[k], float):
                g[k] = round(g[k], 2)
    detail = []
    for sid in sorted(stages):
        s, a = stages[sid], task_agg.get(sid, {})
        detail.append(
            dict(sid=sid, wall=round(s["wall"], 2), ntasks=s["ntasks"],
                 run=round(a.get("run", 0), 1), cpu=round(a.get("cpu", 0), 1),
                 gc=round(a.get("gc", 0), 1),
                 sh_w_mb=round(a.get("sh_write_mb", 0), 1),
                 sh_r_mb=round(a.get("sh_read_mb", 0), 1),
                 name=s["name"].split("\n")[0][:60])
        )
    return {
        "wall_sec": round(wall, 2),
        "stage_covered_sec": round(covered, 2),
        "driver_gap_sec": round(wall - covered, 2),
        "n_stages": len(stages),
        "groups": dict(sorted(groups.items(), key=lambda kv: -kv[1]["wall"])),
        "stages": detail,
    }


def main():
    spec, backend, nodes = sys.argv[1], sys.argv[2], int(sys.argv[3])
    supersteps = int(sys.argv[4]) if len(sys.argv) > 4 else 10
    from graph_data_science_spark.operators.pagerank import page_rank
    from graph_data_science_spark.sources.generator import random_graph

    spark, cores = build_spark(spec, f"profile-{spec}")
    app_id = spark.sparkContext.applicationId
    g = random_graph(spark, nodes, 8, seed=42)
    g.edges.persist()
    m = g.edges.count()
    g.nodes.persist()
    g.nodes.count()
    t0 = time.time() * 1000
    res = page_rank(g, tolerance=0, max_iterations=supersteps, backend=backend)
    res.scores.count()
    t1 = time.time() * 1000
    spark.stop()
    time.sleep(1.0)
    prof = parse_eventlog(os.path.join(EVDIR, app_id), t0, t1, cores)
    prof.update(
        spec=spec, backend=backend, cores=cores, edges=m, supersteps=supersteps,
        throughput=round(m * supersteps / prof["wall_sec"], 1),
        sec_per_superstep=round(prof["wall_sec"] / supersteps, 3),
    )
    print("PROFILE " + json.dumps(prof))


if __name__ == "__main__":
    main()
