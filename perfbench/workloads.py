"""The benchmark's workloads, run through the package's public entry points
on the session ``session.get_spark()`` ships.

- ``olap_sf0.1``: the ten ``bench.HEADLINE`` catalog queries over the
  bucketed sf0.1 tables, in seeded shuffled passes, each result
  materialized with ``toArrow()`` and checked against DuckDB running the
  same oracle SQL in the same run.
- ``corpus_minhash``: ``corpus_pipeline.corpus_run(near_dup="minhash")``
  over the first 1,250 documents with one source held out as the
  decontamination benchmark, its manifest checked against the counts the
  parent commit produced for the same seed (``expected_corpus.json``).

Inputs are derived from the tracked ``benchdata/sf1`` tables as key
prefixes (sf0.1 keeps every key below a tenth of its sf1 range), so the
benchmark reads nothing outside the checkout. Every write goes under the
run's work directory.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from tracing import Tracer, read_event_log, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))

# table -> (key column, number of keys at sf1); a scale 1/d copy keeps the
# rows whose key is below n // d. region and nation are copied whole.
SF1_KEYS = {
    "region": None,
    "nation": None,
    "customer": ("c_custkey", 150_000),
    "supplier": ("s_suppkey", 10_000),
    "part": ("p_partkey", 200_000),
    "orders": ("o_orderkey", 1_500_000),
    "lineitem": ("l_orderkey", 1_500_000),
    "events": ("event_id", 1_000_000),
    "documents": ("doc_id", 50_000),
    "embeddings": ("vec_id", 20_000),
}
CORPUS_VARIANTS = 20  # sources src0..src19; the seed picks the held-out one


@dataclass(frozen=True)
class Scale:
    sf_divisor: int = 10        # OLAP tables: sf1 key prefix / divisor
    corpus_docs: int = 1250     # corpus_minhash input documents
    min_passes: int = 3         # OLAP passes measured at least
    # Test seam: applied to each operation's result before its check.
    mutate: Callable | None = None


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    scale: Scale = field(default_factory=Scale)
    tracer: Tracer = None

    def __post_init__(self):
        if self.tracer is None:
            self.tracer = Tracer(self.trace)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)  # name -> (value, unit, samples)
    per_layer: dict = field(default_factory=dict)   # name -> (value, unit)
    record: dict = field(default_factory=dict)

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr, flush=True)


def derive_tables(root: str, dst: str, divisor: int, tables=None) -> str:
    """Write the 1/divisor key prefix of benchdata/sf1 as one single-row-group
    parquet file per table (the layout of the sf0.1 test data)."""
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for t in tables or SF1_KEYS:
        spec = SF1_KEYS[t]
        filters = [(spec[0], "<", spec[1] // divisor)] if spec else None
        tbl = pq.read_table(os.path.join(root, "benchdata", "sf1", f"{t}.parquet"), filters=filters)
        pq.write_table(tbl, os.path.join(dst, f"{t}.parquet"), row_group_size=max(1, tbl.num_rows))
    return dst


def start_session(ctx: Ctx):
    """The shipped session with only paths set: warehouse, local dir, JVM temp
    dir and, in the traced run, the event log."""
    from pyspark.sql import SparkSession

    from ecom_snowflake_duckdb_migration_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:  # one session per process; its paths are already set
        return active
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp -Dderby.system.home={ctx.work}",
    }
    if ctx.trace:
        os.makedirs(os.path.join(ctx.work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(ctx.work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(ctx.work, d), exist_ok=True)
    return get_spark(app_name="perfbench", extra_conf=conf)


def _norm(v):
    if v is None:
        return ("null",)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return (type(v).__name__, v)


def result_hash(tbl) -> str:
    """Order-insensitive hash of an Arrow result: columns sorted by name,
    rows normalized and sorted, as `oracle.compare_to_oracle` compares."""
    cols = sorted(tbl.column_names)
    rows = sorted(zip(*(map(_norm, tbl.column(c).to_pylist()) for c in cols)))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _finish(ctx: Ctx, spark, res: Result, setup_s: float, ops: list[float],
            passes: list[float], stored_mb: float) -> None:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    if not ops:
        raise RuntimeError("no operation completed; see the failures above")
    res.end_to_end.update({
        "setup_s": (setup_s, "s", 1),
        "op_p50_s": (statistics.median(ops), "s", len(ops)),
        "pass_s": (statistics.median(passes), "s", len(passes)),
        "stored_mb": (stored_mb, "MB", 1),
    })
    res.record["peak_rss_mb"] = rss
    res.record["failed_frac"] = res.failed / max(1, res.attempted)
    res.record["op_samples_s"] = ops
    res.record["confs"] = {
        k: spark.conf.get(k, None) for k in (
            "spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.local.dir", "spark.sql.warehouse.dir", "spark.driver.memory",
        )
    }
    res.record["default_parallelism"] = spark.sparkContext.defaultParallelism
    res.per_layer["session.start_s"] = (ctx.tracer.total("session.start"), "s")


def _exec_layers(spark, res: Result, op_ids: list[str], wall: float) -> dict:
    """exec.* per operation, read from the traced session's event log;
    ``wall`` is the operations' summed wall time."""
    log_dir = spark.conf.get("spark.eventLog.dir").removeprefix("file:")
    groups = read_event_log(log_dir)
    per = [groups.get(op, {}) for op in op_ids]
    n = max(1, len(op_ids))
    keys = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
    for k in keys:
        unit = "count" if k in ("jobs", "stages", "tasks") else ("s" if k.endswith("_s") else "MB")
        res.per_layer[f"exec.{k}"] = (sum(p.get(k, 0) for p in per) / n, unit)
    res.per_layer["exec.failed_tasks"] = (sum(p.get("failed_tasks", 0) for p in per), "count")
    res.per_layer["exec.straggler_ratio"] = (max([p.get("straggler_ratio", 1.0) for p in per] + [1.0]), "ratio")
    busy = sum(p.get("executor_run_s", 0) for p in per)
    res.per_layer["exec.core_busy_frac"] = (busy / (wall * spark.sparkContext.defaultParallelism), "ratio")
    return groups


def olap(ctx: Ctx) -> Result:
    import duckdb
    from bench import HEADLINE

    from ecom_snowflake_duckdb_migration_spark.queries import TABLES, all_queries
    from ecom_snowflake_duckdb_migration_spark.sources.bucketed import ensure_bucketed_facts

    tr, res = ctx.tracer, Result()
    t_setup = time.perf_counter()
    sf = derive_tables(ctx.root, os.path.join(ctx.work, "data", "sf"), ctx.scale.sf_divisor)
    with tr.span("session.start"):
        spark = start_session(ctx)
    specs = all_queries()
    with tr.span("sources.bucketed.prep"):
        ensure_bucketed_facts(spark, sf)
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    expected = {q: result_hash(con.execute(specs[q].oracle).fetch_arrow_table()) for q in HEADLINE}
    with tr.span("warmup"):
        for q in HEADLINE:
            specs[q].fn(spark, sf).toArrow()
    setup_s = time.perf_counter() - t_setup

    rng = random.Random(ctx.seed)
    ops, passes, duck_passes, op_ids = [], [], [], []
    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}
    traced = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0, "rows": 0, "mb": 0.0}
    t_end = time.perf_counter() + ctx.seconds
    p = 0
    while p < ctx.scale.min_passes or time.perf_counter() < t_end:
        order = list(HEADLINE)
        rng.shuffle(order)
        results, pass_s = [], 0.0
        for q in order:
            op = f"olap-{ctx.seed}-{p}-{q}"
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                if ctx.trace:
                    spark.sparkContext.setJobGroup(op, op)
                    with tr.span("op", op):
                        with tr.span("queries.build"):
                            df = specs[q].fn(spark, sf)
                        with tr.span("catalyst.plan"):
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                        with tr.span("exec.collect"):
                            tbl = df.toArrow()
                    dt = time.perf_counter() - t0
                    phases = qe.tracker().phases()
                    for ph in ("analysis", "optimization", "planning"):
                        o = phases.get(ph)
                        traced[ph] += o.get().durationMs() / 1e3 if o.isDefined() else 0.0
                    traced["rows"] += tbl.num_rows
                    traced["mb"] += tbl.nbytes / 2**20
                else:
                    tbl = specs[q].fn(spark, sf).toArrow()
                    dt = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
                res.fail(op, traceback.format_exc())
                continue
            ops.append(dt)
            per_query[q].append(dt)
            op_ids.append(op)
            pass_s += dt
            results.append((q, op, tbl))
        if ctx.trace:
            spark.sparkContext.setJobGroup("perfbench-harness", "checks")
        for q, op, tbl in results:
            if ctx.scale.mutate is not None:
                tbl = ctx.scale.mutate(tbl)
            if result_hash(tbl) != expected[q]:
                res.fail(op, "result differs from the DuckDB oracle")
        if len(results) == len(order):
            passes.append(pass_s)
        t0 = time.perf_counter()
        for q in order:
            con.execute(specs[q].oracle).fetch_arrow_table()
        duck_passes.append(time.perf_counter() - t0)
        p += 1
    con.close()

    res.record["duckdb_pass_s"] = statistics.median(duck_passes)
    if passes:
        res.record["duckdb_ratio"] = statistics.median(passes) / res.record["duckdb_pass_s"]
    res.record["query_p50_s"] = {q: statistics.median(v) for q, v in per_query.items() if v}
    res.record["passes"] = p
    _finish(ctx, spark, res, setup_s, ops, passes, _du_mb(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")))
    res.per_layer["sources.bucketed.prep_s"] = (tr.total("sources.bucketed.prep"), "s")
    n = max(1, len(op_ids))
    res.per_layer["queries.build_s"] = (tr.total("queries.build") / n, "s")
    for ph in ("analysis", "optimization", "planning"):
        res.per_layer[f"catalyst.{ph}_s"] = (traced[ph] / n, "s")
    res.per_layer["collect.rows"] = (traced["rows"] / n, "count")
    res.per_layer["collect.mb"] = (traced["mb"] / n, "MB")
    if ctx.trace:
        _exec_layers(spark, res, op_ids, sum(ops))
    return res


def expected_corpus(scale: Scale, variant: int) -> dict:
    with open(os.path.join(HERE, "expected_corpus.json")) as f:
        table = json.load(f)
    try:
        return table[str(scale.corpus_docs)][str(variant)]
    except KeyError:
        raise RuntimeError(
            f"no expected manifest for {scale.corpus_docs} docs, variant {variant}: "
            "run perfbench/make_expected.py at the parent commit"
        ) from None


def split_counts(manifest: dict) -> dict:
    return {
        name: [s["docs"], s["chunks"], s["packs"], s["tokens"]]
        for name, s in sorted(manifest["splits"].items())
    }


def corpus_inputs(ctx: Ctx, spark, n_docs: int, variant: int):
    """(corpus, benchmark) frames over the first n_docs sf1 documents, with
    source ``src<variant>`` held out as the decontamination benchmark."""
    from pyspark.sql import functions as F

    path = os.path.join(ctx.work, "data", f"docs{n_docs}")
    derive_tables(ctx.root, path, 50_000 // n_docs, ["documents"])
    docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
    held = F.col("source") == f"src{variant}"
    return docs.filter(~held), docs.filter(held)


def corpus(ctx: Ctx) -> Result:
    from ecom_snowflake_duckdb_migration_spark.corpus_pipeline import corpus_run

    tr, res = ctx.tracer, Result()
    variant = ctx.seed % CORPUS_VARIANTS
    corpus_seed = 42 + variant
    want = expected_corpus(ctx.scale, variant)
    t_setup = time.perf_counter()
    with tr.span("session.start"):
        spark = start_session(ctx)
    docs, held = corpus_inputs(ctx, spark, ctx.scale.corpus_docs, variant)
    with tr.span("warmup"):
        warm = os.path.join(ctx.work, "corpus", "warm")
        corpus_run(spark, docs, warm, benchmark=held, near_dup="minhash", seed=corpus_seed)
        shutil.rmtree(warm)
    setup_s = time.perf_counter() - t_setup

    ops, op_ids, stored, manifest = [], [], 0.0, None
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        op = f"corpus-{ctx.seed}-{i}"
        out = os.path.join(ctx.work, "corpus", f"op{i}")
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            if ctx.trace:
                spark.sparkContext.setJobGroup(op, op)
            with tr.span("op", op):
                with tr.span("corpus_pipeline.corpus_run"):
                    manifest = corpus_run(spark, docs, out, benchmark=held, near_dup="minhash", seed=corpus_seed)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            res.fail(op, traceback.format_exc())
            i += 1
            continue
        ops.append(time.perf_counter() - t0)
        op_ids.append(op)
        if ctx.scale.mutate is not None:
            manifest = ctx.scale.mutate(manifest)
        got = split_counts(manifest)
        if got != want:
            res.fail(op, f"split counts {got} differ from the parent's {want}")
        stored = _du_mb(out)
        if i > 0:
            shutil.rmtree(os.path.join(ctx.work, "corpus", f"op{i - 1}"), ignore_errors=True)
        i += 1
    res.record["variant"] = {"held_out": f"src{variant}", "corpus_seed": corpus_seed,
                             "docs": ctx.scale.corpus_docs}
    res.record["splits"] = split_counts(manifest) if manifest else None
    res.record["docs_per_s"] = ctx.scale.corpus_docs * len(ops) / sum(ops) if ops else None
    _finish(ctx, spark, res, setup_s, ops, ops, stored)
    if ctx.trace:
        groups = _exec_layers(spark, res, op_ids, sum(ops))
        res.per_layer["corpus_pipeline.jobs"] = (
            sum(groups.get(op, {}).get("jobs", 0) for op in op_ids) / max(1, len(op_ids)), "count")
        survivors = isolate_corpus_stages(ctx, spark, docs, held, corpus_seed, res)
        if manifest and survivors != sum(s["docs"] for s in manifest["splits"].values()):
            res.fail("stage isolation", f"{survivors} survivors, manifest has a different total")
    return res


def isolate_corpus_stages(ctx: Ctx, spark, docs, held, corpus_seed: int, res: Result) -> int:
    """Time each public operator of the corpus cascade alone, into the noop
    sink, on inputs materialized (untimed) from the previous stage. Returns
    the number of curated survivors, which must match the manifest."""
    from pyspark.sql import functions as F

    from ecom_snowflake_duckdb_migration_spark.corpus_pipeline import DEFAULT_SPLITS_E6
    from ecom_snowflake_duckdb_migration_spark.operators import sampling as sp
    from ecom_snowflake_duckdb_migration_spark.operators import text as tx

    tr, base = ctx.tracer, os.path.join(ctx.work, "stages")

    def timed(layer: str, df) -> None:
        spark.sparkContext.setJobGroup(f"stage-{layer}", layer)
        with tr.span(layer, "isolate"):
            df.write.format("noop").mode("overwrite").save()

    def mat(name: str, df):
        spark.sparkContext.setJobGroup("perfbench-harness", "materialize")
        path = os.path.join(base, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    scored = tx.predict_language(tx.quality_metrics(docs, "text"), "text")
    keep1 = scored.filter(F.col("quality_ok") & (F.col("predicted_lang") == "en")).select(
        "doc_id", "source", "text", "n_tokens")
    timed("operators.text.quality_lang", keep1)
    keep1 = mat("keep1", keep1)
    canon = tx.exact_dedup_groups(keep1, "text", "doc_id")
    timed("operators.text.exact_dedup", canon)
    keep2 = mat("keep2", keep1.join(canon.select(F.col("canonical_doc_id").alias("doc_id")), "doc_id", "left_semi"))
    sig = tx.minhash_signatures(keep2, "text", "doc_id", k=3)
    timed("operators.text.minhash_signatures", sig)
    sig = mat("sig", sig)
    cand = tx.band_candidates(sig, "doc_id")
    timed("operators.text.band_candidates", cand)
    cand = mat("cand", cand)
    pairs = tx.jaccard_verify_pairs(cand, tx.char_shingle_sets(keep2, "text", "doc_id", 3), "doc_id", 800_000)
    timed("operators.text.jaccard_verify", pairs)
    pairs = mat("pairs", pairs)
    keep3 = mat("keep3", keep2.join(pairs.select(F.col("d2").alias("doc_id")).distinct(), "doc_id", "left_anti"))
    flags = tx.decontaminate(keep3, held, n=8, text_col="text", id_col="doc_id")
    timed("operators.text.decontaminate", flags)
    kept = keep3.join(mat("flags", flags).filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_anti")
    timed("operators.text.curate", tx.curate(docs, held, near_dup="minhash"))
    survivors = mat("survivors", docs.join(kept.select("doc_id"), "doc_id", "left_semi"))
    split = sp.shuffle_split(survivors, DEFAULT_SPLITS_E6, id_col="doc_id", seed=corpus_seed)
    timed("operators.sampling.shuffle_split", split)
    assigned = mat("assigned", split)
    chunked = tx.chunk_documents(assigned, chunk_size=500, overlap=100).join(
        assigned.select("doc_id", "split", "shuffle_key"), "doc_id")
    packed = tx.pack_sequences(
        chunked.filter(F.col("split") == "train").drop("split"), 2048,
        token_col="chunk_tokens", order_cols=("shuffle_key", "chunk_id"))
    timed("operators.text.pack_sequences", packed)

    for layer in ("operators.text.quality_lang", "operators.text.exact_dedup",
                  "operators.text.minhash_signatures", "operators.text.band_candidates",
                  "operators.text.jaccard_verify", "operators.text.decontaminate",
                  "operators.text.curate", "operators.sampling.shuffle_split",
                  "operators.text.pack_sequences"):
        res.per_layer[f"{layer}_s"] = (tr.total(layer), "s")
    n_cand, n_pairs = cand.count(), pairs.count()
    res.per_layer["operators.text.lsh_candidates"] = (n_cand, "count")
    res.per_layer["operators.text.lsh_pairs"] = (n_pairs, "count")
    res.per_layer["operators.text.lsh_yield"] = (n_pairs / n_cand if n_cand else 0.0, "ratio")
    return survivors.count()


WORKLOADS = {"olap_sf0.1": olap, "corpus_minhash": corpus}
