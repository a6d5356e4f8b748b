"""Per-layer metrics of one traced chain, derived from the listener's
record (perfbench/jvm/perfbench/Trace.java), the Pipeline manifest, the
artifacts on disk and the JVM's GC log.

Layers are named after the engine's modules:

- stage.<s>.*   graft.Pipeline stage <s>. `wall_s` is the manifest's
  millis. `build_s` runs from the stage's start to the start of its
  artifact write (plan building in graft.SparkEntry / graft.operators,
  with the eager gate, checkpoint and session-cache jobs of Sampling,
  Dedup and Similarity); `build_jobs` counts the Spark jobs in that
  window. `exec_s` is the artifact write's SQL execution (Spark
  execution plus the parquet write). `shuffle_bytes` and `task_cpu_s`
  sum every task of every job attributed to the stage.
- exec.*        Spark execution over the whole run.
- tables.*      parquet scans of the corpus (graft.Tables).
- sinks.*       the artifacts written.
- pipeline.overhead_s  stage time outside build and exec: the count-back
  scan, signature listing, contract and manifest.
- jvm.*         the Pipeline JVM's heap.

A write execution is recognised by its InsertIntoHadoopFsRelationCommand
and attributed to the stage whose artifact path it names; the count-back
is the next execution that names the same path. A stage ends when its
count-back ends and starts its manifest millis earlier.
"""
from __future__ import annotations

import os

STAGE_METRICS = {"wall_s": "s", "build_s": "s", "build_jobs": "count", "exec_s": "s",
                 "shuffle_bytes": "B", "task_cpu_s": "s"}
KERNELS = ["wordShingles", "minHashSigs", "simHash32", "ngramRepetition", "wordNgrams",
           "rewardStats", "argminL2"]


def metric_names(stages: list[str], chains: list[str]) -> dict:
    names = {f"stage.{s}.{m}": u for s in stages for m, u in STAGE_METRICS.items()}
    names.update({f"chain.{c}.wall_s": "s" for c in chains})
    names.update({
        "exec.jobs": "count", "exec.tasks": "count", "exec.spill_bytes": "B", "exec.gc_s": "s",
        "exec.task_skew": "ratio", "exec.slot_util": "ratio", "exec.failed_tasks": "count",
        "tables.scan_bytes": "B", "tables.scan_rows": "count",
        "sinks.output_bytes": "B", "sinks.output_files": "count",
        "pipeline.overhead_s": "s", "jvm.heap_peak_mb": "MB", "trace.wall_s": "s",
    })
    names.update({f"kernel.{k}.ns_per_row": "ns" for k in KERNELS})
    return names


def derive(trace: dict, manifest: dict, stages: list[str], run_dir: str, gc: dict,
           cores: int, t0: float, t1: float) -> tuple[dict, list]:
    execs = sorted(trace["executions"], key=lambda x: x["start"])
    jobs = trace["jobs"]
    ms = 1000.0
    spans = [{"name": "run", "start": t0 * ms, "end": t1 * ms, "parent": None},
             {"name": "setup", "start": t0 * ms, "end": trace["app_start_ms"], "parent": "run"}]
    out, windows, starts = {}, {}, []
    prev_end = trace["app_start_ms"]
    for s in stages:
        write = next(x for x in execs if x["write"] and s in x["refs"])
        cb = next(x for x in execs
                  if not x["write"] and s in x["refs"] and x["start"] >= write["end"])
        end = cb["end"]
        start = max(prev_end, end - manifest[s]["millis"])
        starts.append(start)
        windows[s] = (prev_end, write, cb)
        prev_end = end
        spans += [{"name": f"stage:{s}", "start": start, "end": end, "parent": "run"},
                  {"name": f"build:{s}", "start": start, "end": write["start"], "parent": f"stage:{s}"},
                  {"name": f"exec:{s}", "start": write["start"], "end": write["end"], "parent": f"stage:{s}"},
                  {"name": f"countback:{s}", "start": cb["start"], "end": cb["end"], "parent": f"stage:{s}"}]
        out[f"stage.{s}.wall_s"] = manifest[s]["millis"] / ms
        out[f"stage.{s}.build_s"] = (write["start"] - start) / ms
        out[f"stage.{s}.exec_s"] = (write["end"] - write["start"]) / ms

    # Attribute jobs: by SQL execution for the write and the count-back,
    # by time for the build window before the write.
    job_stage, exec_jobs = {}, set()
    build_jobs = {s: 0 for s in stages}
    for j in jobs:
        for s, (lo, write, cb) in windows.items():
            if j["execution"] == write["id"]:
                job_stage[j["id"]] = s
                exec_jobs.add(j["id"])
            elif j["execution"] == cb["id"]:
                job_stage[j["id"]] = s
            elif lo <= j["start"] < write["start"] and j["execution"] != cb["id"]:
                job_stage[j["id"]] = s
                build_jobs[s] += 1
            else:
                continue
            break
    for s in stages:
        out[f"stage.{s}.build_jobs"] = build_jobs[s]
        out[f"stage.{s}.shuffle_bytes"] = 0
        out[f"stage.{s}.task_cpu_s"] = 0.0

    tasks = spill = failed = 0
    exec_run_ms = 0
    skew = 1.0
    for st in trace["stages"]:
        s = job_stage.get(st["job"])
        if s is not None:
            out[f"stage.{s}.shuffle_bytes"] += st["shuffle_write_bytes"]
            out[f"stage.{s}.task_cpu_s"] += st["cpu_ns"] / 1e9
        if st["job"] in exec_jobs:
            exec_run_ms += st["run_ms"]
        tasks += st["tasks"]
        spill += st["spill_bytes"]
        failed += st["failed"]
        # Skew only where the tasks did enough work for the ratio to mean something.
        if st["tasks"] >= 2 and st["run_ms"] >= 50:
            skew = max(skew, st["task_ms_max"] / max(st["task_ms_median"], 1))

    exec_total = sum(out[f"stage.{s}.exec_s"] for s in stages)
    manifest_write = next((x for x in reversed(execs) if x["write"] and "_manifest" in x["refs"]), None)
    last_end = manifest_write["end"] if manifest_write else prev_end
    build_total = sum(out[f"stage.{s}.build_s"] for s in stages)

    files = size = 0
    for s in stages:
        d = os.path.join(run_dir, s)
        for f in os.listdir(d) if os.path.isdir(d) else []:
            if not f.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, f))

    out.update({
        "exec.jobs": len(jobs), "exec.tasks": tasks, "exec.spill_bytes": spill,
        "exec.gc_s": gc["pause_s"], "exec.task_skew": skew,
        "exec.slot_util": exec_run_ms / (exec_total * ms * cores) if exec_total > 0 else 0.0,
        "exec.failed_tasks": failed,
        "tables.scan_bytes": trace["scan_bytes"], "tables.scan_rows": trace["scan_rows"],
        "sinks.output_bytes": size, "sinks.output_files": files,
        "pipeline.overhead_s": (last_end - starts[0]) / ms - build_total - exec_total,
        "jvm.heap_peak_mb": gc["after_max_mb"],
    })
    return out, spans
