#!/usr/bin/env python3
"""Chain-level benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run builds the engine from source (perfbench/build.py), generates
the workload's corpus from the seed (perfbench/corpus.py), establishes
the expected output of every stage once per seed with the engine's
DuckDB oracle SQL (perfbench/oracle.py), and then launches
`graft.Pipeline`'s CLI main as a fresh JVM, one chain at a time, back to
back, until `--seconds` have passed (a closed loop with one client).
Every chain's artifacts are checked against the expected row counts and
digests.

With `--trace 0` the last stdout line carries the end-to-end metrics,
medians over the run's chains. With `--trace 1` the same loop runs with
the benchmark's listener recording jobs, SQL executions and task totals
(perfbench/jvm/perfbench/Trace.java), then the reference flow and the
stage-21 clustering chain run once each over the same corpus, so that
every stage has per-layer metrics; the line then carries the per-layer
metrics (perfbench/layers.py) plus the kernel microbench.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

CURATION = ["tx_gopher", "dd_decisions", "tx_contamination", "cur_verdict", "tx_mix", "tx_pack"]
# Chains that run once in every traced run, after the workload's own.
SIDE_CHAINS = {
    "reference_flow": ["p17_style", "p18_prompts", "p22_dataset", "p23_split", "rw_report"],
    "cluster_embed": ["p21_lloyds", "p21_cluster_assign", "p21_cluster_profile",
                      "p21_separability", "p21_pca"],
}
ALL_STAGES = CURATION + [s for chain in SIDE_CHAINS.values() for s in chain]

# Corpus sizes; every other property is the sf0.1 fixture's (corpus.py).
POSTS, VECTORS = 1500, 500
# name -> (stages, corpus, density gate)
WORKLOADS = {
    "curate_unique": (CURATION, corpus.CorpusSpec(n_posts=POSTS, n_vectors=VECTORS), "below2"),
    "curate_replica": (CURATION, corpus.CorpusSpec(n_posts=POSTS, n_vectors=VECTORS, replica_factor=4,
                                                   near_copy_frac=0.2), "atleast2"),
}

NPROC = len(os.sched_getaffinity(0))
HEAP = "2g"
CHAIN_TIMEOUT_S = 120
# Once the engine is built a run must end within 180 s; every JVM it
# starts gets at most what is left of this, and one cut short fails.
RUN_DEADLINE_S = 170


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java_base(cp: str) -> list[str]:
    return ["java"] + build.add_opens() + [
        f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp]


def jvm_env(work: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(NPROC), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_INCREMENTAL", None)
    return env


def run_jvm(cmd: list[str], work: str, timeout: float) -> tuple[int, float, float, float]:
    """Run `cmd` in `work`; return (exit code, launch time, exit time, CPU seconds)."""
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "stdout.log"), "wb") as out, \
            open(os.path.join(work, "stderr.log"), "wb") as err:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdout=out, stderr=err)
        killer = threading.Timer(timeout, p.kill)
        killer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        except BaseException:
            p.kill()
            p.wait()
            raise
        finally:
            killer.cancel()
        t1 = time.time()
    return os.waitstatus_to_exitcode(status), t0, t1, ru.ru_utime + ru.ru_stime


def digest_of(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def check_density(workload: str, how: str, density: float) -> None:
    """Fail loudly when a curate workload would take the other branch of
    the engine's replica-collapse gates (collapse iff density >= 2)."""
    gate = WORKLOADS[workload][2]
    if gate == "atleast2" and density < 2:
        raise SystemExit(f"perfbench: {workload} has {how} text density {density:.3f} < 2: "
                         "the replica-collapse branches would not run")
    if gate == "below2" and density >= 2:
        raise SystemExit(f"perfbench: {workload} has {how} text density {density:.3f} >= 2: "
                         "the per-document branches would not run")


def prepare(workload: str, seed: int, cp: str, bdir: str, stages: list[str]) -> tuple[str, dict]:
    """Corpus directory and the run record's fixed part for (workload, seed):
    corpus properties and facts, and the expected outputs of `stages`."""
    spec = WORKLOADS[workload][1]
    gen_key = digest_of([open(os.path.join(HERE, "corpus.py")).read(), spec.record(), seed])
    cdir = os.path.join(bdir, "corpus", f"{workload}-{seed}-{gen_key}")
    facts_file = os.path.join(cdir, "facts.json")
    if not os.path.isfile(facts_file):
        shutil.rmtree(cdir, ignore_errors=True)
        facts = corpus.generate(spec, seed, cdir)
        json.dump(facts, open(facts_file, "w"))
    facts = json.load(open(facts_file))
    check_density(workload, "exact", facts["exact_text_density"])

    sql_file = os.path.join(bdir, "oracle_sql.json")
    stamp_file = os.path.join(bdir, "stamp")
    if not os.path.isfile(sql_file) or os.path.getmtime(sql_file) < os.path.getmtime(stamp_file):
        code, *_ = run_jvm(java_base(cp) + ["perfbench.Probe", "sql", sql_file, ",".join(ALL_STAGES)],
                           os.path.join(bdir, "probe-sql"), 120)
        if code != 0:
            raise SystemExit("perfbench: dumping the oracle SQL failed")
    sql = json.load(open(sql_file))

    # Expected outputs per stage, kept with the digest of the SQL they came from.
    exp_file = os.path.join(bdir, "expected", f"{workload}-{seed}-{gen_key}.json")
    expected = json.load(open(exp_file)) if os.path.isfile(exp_file) else {}
    todo = {s: sql[s] for s in stages if expected.get(s, {}).get("sql") != digest_of(sql[s])}
    if todo:
        t0 = time.time()
        for s, e in oracle.expected(cdir, todo).items():
            expected[s] = dict(e, sql=digest_of(sql[s]))
        os.makedirs(os.path.dirname(exp_file), exist_ok=True)
        json.dump(expected, open(exp_file, "w"))
        log(f"expected outputs of {len(todo)} stages established in {time.time() - t0:.1f}s")
    record = {"workload": workload, "seed": seed, "stages": WORKLOADS[workload][0],
              "corpus": spec.record(), "corpus_facts": facts,
              "expected": {s: expected[s] for s in stages}, "nproc": NPROC, "heap": HEAP}
    return cdir, record


def gc_log(path: str) -> dict:
    """Heap occupancy after GC pauses, and the summed pause time.

    `live_mb` is the mean live heap over the run: the occupancy after each
    collecting pause (young, mixed or full, not the remark and cleanup of
    a concurrent cycle), weighted by how long it held until the next one.
    G1 sizes its young generation by the pause times it sees, so the number
    of pauses changes from run to run, and a plain mean over pauses spread
    two to three times as much (perfbench/README.md)."""
    pauses, pause_ms = [], 0.0
    if os.path.isfile(path):
        for line in open(path):
            m = re.search(r"\[([\d.]+)s\].* Pause (\w+).* \d+M->(\d+)M\(\d+M\) ([\d.]+)ms", line)
            if m:
                pause_ms += float(m.group(4))
                if m.group(2) not in ("Remark", "Cleanup"):
                    pauses.append((float(m.group(1)), float(m.group(3))))
    held = [(t1 - t0, mb) for (t0, mb), (t1, _) in zip(pauses, pauses[1:])]
    span = sum(d for d, _ in held)
    return {"live_mb": sum(d * mb for d, mb in held) / span if span > 0 else 0.0,
            "after_max_mb": max((mb for _, mb in pauses), default=0.0), "pause_s": pause_ms / 1000}


def run_chain(cp: str, cdir: str, record: dict, stages: list[str], work: str, traced: bool,
              timeout: float) -> dict:
    """One Pipeline process running `stages`; its measurements and output check."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir, run_id = os.path.join(work, "out"), "r"
    run_dir = os.path.join(out_dir, run_id)
    trace_file = os.path.join(work, "trace.json")
    cmd = java_base(cp) + [
        f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.extraListeners=perfbench.Trace",
        f"-Dperfbench.trace={1 if traced else 0}",
        f"-Dperfbench.trace.out={trace_file}",
        f"-Dperfbench.rundir={run_dir}",
        f"-Dperfbench.corpus={cdir}",
        "graft.Pipeline", cdir, out_dir, run_id, ",".join(stages)]
    os.makedirs(os.path.join(work, "tmp"))
    code, t0, t1, cpu = run_jvm(cmd, work, timeout)
    res = {"exit": code, "wall_s": t1 - t0, "cpu_s": cpu, "problems": []}
    if code != 0:
        res["problems"].append(f"exit code {code}")
        return res
    manifest = {}
    mdir = os.path.join(run_dir, "_manifest")
    for f in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        if f.endswith(".json"):
            for line in open(os.path.join(mdir, f)):
                m = json.loads(line)
                manifest[m["stage"]] = m
    for s in stages:
        path = os.path.join(run_dir, s)
        if s not in manifest or not os.path.isdir(path):
            res["problems"].append(f"{s}: artifact missing")
            continue
        got, want = oracle.artifact(path), record["expected"][s]
        if (got["rows"], got["digest"]) != (want["rows"], want["digest"]) \
                or manifest[s]["rows"] != want["rows"]:
            res["problems"].append(f"{s}: {got['rows']} rows / digest {str(got['digest'])[:12]}, "
                                   f"expected {want['rows']} / {want['digest'][:12]}")
    trace = json.load(open(trace_file)) if os.path.isfile(trace_file) else {}
    if trace.get("app_start_ms", -1) < 0:
        res["problems"].append("no application-start mark from the listener")
        return res
    gc = gc_log(os.path.join(work, "gc.log"))
    stage_s = sum(manifest[s]["millis"] for s in stages if s in manifest) / 1000
    posts = record["corpus_facts"]["posts"]
    res.update(setup_s=trace["app_start_ms"] / 1000 - t0, stage_s=stage_s,
               items_per_s=posts / stage_s if stage_s > 0 else 0.0,
               heap_live_mb=gc["live_mb"], gc=gc)
    if traced:
        try:
            res["layers"], res["spans"] = layers.derive(trace, manifest, stages, run_dir,
                                                         gc, NPROC, t0, t1)
        except (StopIteration, KeyError) as e:
            res["problems"].append(f"trace does not cover every stage ({e!r})")
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    traced = a.trace == 1
    cp = build.build()
    deadline = time.time() + RUN_DEADLINE_S
    bdir = build.build_dir()
    stages = WORKLOADS[a.workload][0]
    cdir, record = prepare(a.workload, a.seed, cp, bdir, ALL_STAGES if traced else stages)
    log(f"build and inputs ready in {time.time() - t0:.1f}s")
    tdir = os.path.join(bdir, "traces")

    def time_left() -> float:
        return max(0.1, min(CHAIN_TIMEOUT_S, deadline - time.time()))

    def one_chain(name: str, chain_stages: list[str]) -> dict:
        r = run_chain(cp, cdir, record, chain_stages, os.path.join(bdir, "runs", name), traced,
                      time_left())
        log(f"{name}: wall {r['wall_s']:.2f}s "
            + ("ok" if not r["problems"] else "FAILED: " + "; ".join(r["problems"])))
        if "spans" in r:
            os.makedirs(tdir, exist_ok=True)
            json.dump(r.pop("spans"), open(os.path.join(tdir, f"{name}.spans.json"), "w"))
        if not r["problems"]:
            shutil.rmtree(os.path.join(bdir, "runs", name), ignore_errors=True)
        return r

    chains = []
    start = time.time()
    while not chains or time.time() - start < a.seconds:
        chains.append(one_chain(f"{a.workload}-{a.seed}", stages))

    ok = [c for c in chains if not c["problems"]]
    failed = len(chains) - len(ok)
    attempted = len(chains)
    pool = ok or [c for c in chains if "setup_s" in c]

    def med(key):
        vals = [c[key] for c in pool if key in c]
        return statistics.median(vals) if vals else 0.0

    if traced:
        side = {name: one_chain(f"{a.workload}-{a.seed}-{name}", chain_stages)
                for name, chain_stages in SIDE_CHAINS.items()}
        pfile = os.path.join(bdir, "probe", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(pfile), exist_ok=True)
        code, *_ = run_jvm(java_base(cp) + ["perfbench.Probe", "measure", cdir, pfile],
                           os.path.dirname(pfile), time_left())
        probe = json.load(open(pfile)) if code == 0 else {}
        log(f"probe: {'ok' if code == 0 else f'FAILED with exit code {code}'}")
        attempted += 1 + len(side)
        failed += (code != 0) + sum(1 for r in side.values() if r["problems"])
        if code == 0:
            record["text_density"] = {k: probe.pop(k) for k in ("n_docs", "n_distinct", "text_density")}
            check_density(a.workload, "Sampling.textDensity", record["text_density"]["text_density"])
        side_layers = {k: v for r in side.values() for k, v in r.pop("layers", {}).items()
                       if k.startswith("stage.")}
        record["side_chains"] = side
        metrics = {}
        for name, unit in layers.metric_names(ALL_STAGES, list(SIDE_CHAINS)).items():
            if name.startswith("kernel."):
                v = probe.get(name, 0.0)
            elif name == "trace.wall_s":
                v = med("wall_s")
            elif name.startswith("chain."):
                v = side[name.split(".")[1]]["wall_s"]
            elif name in side_layers:
                v = side_layers[name]
            else:
                vals = [c["layers"].get(name, 0.0) for c in pool if "layers" in c]
                v = statistics.median(vals) if vals else 0.0
            metrics[name] = {"value": v, "unit": unit}
    else:
        metrics = {
            "wall_s": {"value": med("wall_s"), "unit": "s"},
            "setup_s": {"value": med("setup_s"), "unit": "s"},
            "items_per_s": {"value": med("items_per_s"), "unit": "1/s"},
            "cpu_s": {"value": med("cpu_s"), "unit": "s"},
            "heap_live_mb": {"value": med("heap_live_mb"), "unit": "MB"},
            "ok_frac": {"value": len(ok) / len(chains), "unit": "ratio"},
        }
    record["chains"] = [{k: v for k, v in c.items() if k != "layers"} for c in chains]
    rdir = os.path.join(bdir, "records")
    os.makedirs(rdir, exist_ok=True)
    json.dump(dict(record, metrics=metrics), open(
        os.path.join(rdir, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w"), indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
