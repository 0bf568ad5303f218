"""reden-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 1 --trace 0

Workloads (one client, one pipeline run at a time, ``local[<nproc>]``):

* ``kg_full``  -- ``plans.pipeline.run_pipeline`` on a conv_id-bucketed
                  transcripts corpus with gold links: the production build
                  and its evaluation, every KG stage.
* ``curation`` -- ``plans.curation.run_curation`` on a documents corpus with
                  planted near-duplicate clusters.

Every sample starts a fresh Spark JVM and runs the pipeline once, because a
spark-submit user pays JIT and Python-worker start-up on every run; samples
are taken back to back until ``--seconds`` have passed (at least one), and
each one's setup is timed with it. Inputs and the KG oracle result are
built in pure Python before the first measured JVM starts, and cached per
seed, so a cache miss never warms a measured JVM.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` takes one sample
with the Spark event log and the span hooks on and prints the per-layer
metrics. Every timed run is checked against the oracle or the curation
invariants; the last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"

KG_CONVS = 12
CUR_DOCS = 12_000
RUN_TIMEOUT_S = 150.0
DRIVER_MEM = "4g"  # pinned, so the heap does not follow the host's free memory

WORKLOADS = ("kg_full", "curation")
KG_STAGES = ("mentions", "candidates", "links", "triples", "metrics")
CUR_STAGES = ("pairs", "clusters", "holdout", "decontam", "packed")
STAGE_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "jvm_cpu_s": "s",
    "py_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "fetch_wait_s": "s",
    "task_skew": "ratio",
    "rows_out": "count",
}
EXTRA_LAYER_METRICS = {
    "mentions.per_turn": "ratio",
    "candidates.hit_ratio": "ratio",
    "links.graph_share": "ratio",
    "checkpointing.materialize_s": "s",
    "checkpointing.calls": "count",
    "canonicalize.cc_s": "s",
    "dedup.auto_salt": "factor",
    "plans.unattributed_s": "s",
    "trace.overhead_s": "s",
}
END_TO_END = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def layer_metric_units() -> dict[str, str]:
    units = {
        f"{stage}.{m}": unit
        for stage in KG_STAGES + CUR_STAGES
        for m, unit in STAGE_METRICS.items()
    }
    return units | EXTRA_LAYER_METRICS


def prepare_env() -> int:
    """Point every scratch path into the work dir; returns the core count."""
    ncpu = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "out", "data", "traces"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # the JVM spark-submit runs first, to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    return ncpu


def spark_conf(trace: bool, evt_dir: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
        ),
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": evt_dir.as_uri(),
        }
    return conf


def start_spark(app: str, ncpu: int, conf: dict[str, str]):
    from reden_spark.session import get_spark

    spark = get_spark(app, master=f"local[{ncpu}]", shuffle_partitions=2 * ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- inputs ------------------------------------------------------------------

def ensure_data(workload: str, seed: int) -> Path:
    """The workload's inputs (and KG oracle result), generated if not cached."""
    from perfbench import corpora

    (WORK / "data").mkdir(parents=True, exist_ok=True)
    if workload == "curation":
        d = WORK / "data" / f"cur-n{CUR_DOCS}-s{seed}-v{corpora.GEN_VERSION}"
        return corpora.curation_corpus(d, seed, CUR_DOCS)
    d = WORK / "data" / f"kg-n{KG_CONVS}-s{seed}-v{corpora.GEN_VERSION}"
    return corpora.kg_corpus(d, seed, KG_CONVS)


# -- measured runs ----------------------------------------------------------

def register_inputs(spark, workload: str, data: Path) -> int:
    """Register every input table as the pipeline will read it; returns the
    input row count (turns or documents) from parquet metadata."""
    import pyarrow.dataset as pads

    from reden_spark.sources import storage

    if workload == "curation":
        spark.read.parquet(str(data / "documents.parquet")).schema
        return pads.dataset(str(data / "documents.parquet"), format="parquet").count_rows()
    storage.read_stage(spark, data, "transcripts.parquet").schema
    for name in ("mention_terms", "dico", "kb_edges", "rel_weights", "gold_links"):
        spark.read.parquet(str(data / f"{name}.parquet")).schema
    return pads.dataset(
        str(data / "transcripts.parquet"), format="parquet", exclude_invalid_files=True
    ).count_rows()


def nel_config():
    from reden_spark.datagen import BASE_PREFIX
    from reden_spark.operators.disambiguate import NELConfig

    return NELConfig(base_prefix=BASE_PREFIX, preferred_uri=BASE_PREFIX)


def run_once(spark, workload: str, data: Path, out: Path) -> None:
    """One pipeline run, until its outputs are committed and read back."""
    if workload == "curation":
        from reden_spark.plans.curation import run_curation

        run_curation(spark, data, out)["packed"].count()
        return
    from reden_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, data, out, nel_config())["triples"].count()


def check(workload: str, data: Path, out: Path) -> list[str]:
    from perfbench import checks

    if workload == "curation":
        return checks.curation_run_problems(out, data)
    expected = json.loads((data / "expected.json").read_text())
    return checks.triples_problems(out, expected) + checks.gold_problems(out, data)


class Sample(NamedTuple):
    wall_s: float
    cpu_s: float
    peak_rss: int
    problems: list[str]


def timed_run(spark, workload: str, data: Path, out: Path) -> Sample:
    from perfbench import procstat

    memory = procstat.PssSampler().start()
    cpu0 = procstat.tree_cpu()
    t0 = time.perf_counter()
    try:
        run_once(spark, workload, data, out)
        error = None
    except Exception as exc:  # a failed run is counted, not fatal
        error = f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu() - cpu0
    peak_rss = memory.stop()
    if error is not None:
        problems = [error]
    else:
        problems = check(workload, data, out)
        if wall > RUN_TIMEOUT_S:
            problems.append(f"run took {wall:.1f} s > {RUN_TIMEOUT_S} s")
    for p in problems:
        print(f"perfbench: {workload}: {p}", file=sys.stderr)
    return Sample(wall, cpu, peak_rss, problems)


def layer_metrics(tracer, evt_dir: Path, workload: str, out: Path, n_rows: int,
                  wall_s: float) -> dict[str, float]:
    """Per-layer numbers of one traced run."""
    from perfbench.checks import read_table
    from perfbench.eventlog import parse_stage_metrics
    from reden_spark.operators import dedup
    from reden_spark.sources import storage

    values = {name: 0.0 for name in layer_metric_units()}
    tasks = parse_stage_metrics(evt_dir, since_ms=tracer.since_ms)
    spans = tracer.stage_spans()
    for stage, span in spans.items():
        values[f"{stage}.wall_s"] = span["end"] - span["start"]
        values[f"{stage}.py_cpu_s"] = span.get("py_cpu_s", 0.0)
        values[f"{stage}.rows_out"] = float(storage.read_manifest(out, stage)["rows"])
        for m in ("task_s", "jvm_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                  "fetch_wait_s", "task_skew"):
            values[f"{stage}.{m}"] = float(tasks.get(stage, {}).get(m, 0.0))
    values["plans.unattributed_s"] = wall_s - sum(values[f"{s}.wall_s"] for s in spans)
    values["checkpointing.materialize_s"], n_ckpt = tracer.total("checkpointing.checkpoint")
    shared_s, n_shared = tracer.total("checkpointing.shared")
    values["checkpointing.materialize_s"] += shared_s
    values["checkpointing.calls"] = float(n_ckpt + n_shared)
    values["canonicalize.cc_s"] = tracer.total("canonicalize.connected_components")[0]
    values["trace.overhead_s"] = tracer.overhead_s
    if workload == "curation":
        values["dedup.auto_salt"] = float(dedup._LAST_AUTO_SALT or 0)
        return values
    mentions = read_table(out / "mentions", ["conv_id", "mention"])
    keys = set(zip(*(read_table(out / "candidates", ["conv_id", "mention"]).column(c).to_pylist()
                     for c in ("conv_id", "mention"))))
    m_keys = list(zip(*(mentions.column(c).to_pylist() for c in ("conv_id", "mention"))))
    values["mentions.per_turn"] = len(m_keys) / max(1, n_rows)
    values["candidates.hit_ratio"] = sum(k in keys for k in m_keys) / max(1, len(m_keys))
    paths = read_table(out / "links", ["path"]).column("path").to_pylist()
    values["links.graph_share"] = sum(p == "graph" for p in paths) / max(1, len(paths))
    return values


def run_session(workload: str, data: Path, out: Path, ncpu: int, tracer=None,
                evt_dir: Path | None = None, setup_from: float | None = None):
    """Start Spark, register the inputs, run the pipeline once, stop Spark and
    its JVM. Returns (sample, setup seconds, input rows); setup is timed from
    ``setup_from`` (a perf_counter value) or, when None, from process start."""
    from perfbench import procstat

    shutil.rmtree(out, ignore_errors=True)
    spark = start_spark(f"perfbench-{workload}", ncpu, spark_conf(tracer is not None, evt_dir))
    try:
        n_rows = register_inputs(spark, workload, data)
        if setup_from is None:
            setup_s = procstat.process_age_s()
        else:
            setup_s = time.perf_counter() - setup_from
        if tracer is None:
            return timed_run(spark, workload, data, out), setup_s, n_rows
        tracer.install(spark)
        tracer.since_ms = time.time() * 1000
        root = tracer.open(f"plans.{workload}")
        sample = timed_run(spark, workload, data, out)
        tracer.close(root)
        return sample, setup_s, n_rows
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)  # also flushes the event log


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Samples for ``seconds`` (at least one; one when tracing), then the
    result dict."""
    ncpu = prepare_env()
    t0 = time.perf_counter()
    data = ensure_data(workload, seed)
    prep_s = time.perf_counter() - t0
    run_id = f"{workload}-s{seed}-{os.getpid()}"
    out = WORK / "out" / run_id
    evt_dir = WORK / "eventlog" / run_id
    window_end = time.perf_counter() + seconds

    samples: list[Sample] = []
    setups: list[float] = []
    tracer = None
    if trace:
        from perfbench.tracing import Tracer

        tracer = Tracer()
        evt_dir.mkdir(parents=True, exist_ok=True)
    while True:
        setup_from = time.perf_counter() if setups else None
        sample, setup_s, n_rows = run_session(workload, data, out, ncpu, tracer, evt_dir, setup_from)
        samples.append(sample)
        # the first setup counts from process start, less input preparation
        setups.append(setup_s if setup_from else setup_s - prep_s)
        if trace or time.perf_counter() >= window_end:
            break

    wall_s = statistics.median(s.wall_s for s in samples)
    if trace:
        values = layer_metrics(tracer, evt_dir, workload, out, n_rows, wall_s)
        tracer.write(WORK / "traces" / f"{run_id}.json")
        units = layer_metric_units()
    else:
        values = {
            "wall_s": wall_s,
            "rows_per_s": n_rows / wall_s,
            "cpu_s": statistics.median(s.cpu_s for s in samples),
            "peak_rss_mb": statistics.median(s.peak_rss for s in samples) / 2**20,
            "setup_s": statistics.median(setups),
        }
        units = END_TO_END
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(evt_dir, ignore_errors=True)
    failed = sum(1 for s in samples if s.problems)
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "reden_spark" / "__init__.py").is_file():
        print("perfbench: no reden_spark package next to perfbench/; run from a checkout",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, str(ROOT))
    result = run_workload(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
