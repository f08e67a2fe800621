"""The benchmark workloads.

Each workload generates its inputs from the seed, builds its standing state
in ``setup``, and then serves ops in rounds: one round is a seeded order of
a fixed op mix, so every run measures the same mix. ``round_s`` is the
share of ``--seconds`` one round stands for; a run serves ``--seconds /
round_s`` rounds, so the op count never depends on the box's speed.
``run_op`` is the timed part; ``check_op`` and ``final_check`` verify
outputs outside timing; ``probe`` (traced runs only, after the timed ops)
calls single layers in isolation.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from big_data_processing_with_aws_glue_workshop_spark.functions.dates import multi_format_date
from big_data_processing_with_aws_glue_workshop_spark.functions.text import snake_case_columns
from big_data_processing_with_aws_glue_workshop_spark.operators.dedup import keep_latest
from big_data_processing_with_aws_glue_workshop_spark.operators.dq import (
    consolidated_validation,
    sampled_profile,
)
from big_data_processing_with_aws_glue_workshop_spark.operators.joins import (
    anti_join_orphans,
    enrich_with_dim,
)
from big_data_processing_with_aws_glue_workshop_spark.plans import analytics
from big_data_processing_with_aws_glue_workshop_spark.plans.incremental import (
    incremental_refresh,
    read_refreshed,
)
from big_data_processing_with_aws_glue_workshop_spark.plans.rues import (
    DATE_COLUMNS,
    RuesConfig,
    apply_rules,
    bronze_year_partition,
    build_dim_empresa,
    build_fact_renovacion,
    rn001_standardize_dates,
    silver_rules,
    silver_validation_rules,
    silver_year_partition,
)
from big_data_processing_with_aws_glue_workshop_spark.sources import (
    read_csv_robust,
    read_parquet_lake,
    write_parquet,
    write_parquet_partitioned,
)
from big_data_processing_with_aws_glue_workshop_spark.sources.bookmarks import JobBookmark
from big_data_processing_with_aws_glue_workshop_spark.sources.readers import ROBUST_CSV_OPTIONS
from big_data_processing_with_aws_glue_workshop_spark.streaming.sinks import read_pointer

from . import rues_gen, tables_gen

CONFIG = RuesConfig(reference_year=rues_gen.REFERENCE_YEAR, today=rues_gen.TODAY)
KEYS = ["matricula", "nit"]

# Input sizes. All inputs fit in memory and in the OS page cache.
BUILD_KEYS = 200_000  # medallion_build: one raw CSV (~230 000 rows, ~56 MB)
WARM_KEYS = 40_000  # medallion_build's warm-up pass
REFRESH_KEYS = 10_000  # standing snapshot of the refresh probe
BATCH_ROWS = 300  # rows per landed refresh batch
TABLES_SF = 0.1  # query_mix tables (600k line items)

# Registered queries of query_mix, by the module that defines them: the
# read-only relational/athena/events path and the textops/vectors path
# through the extensions layer and Arrow/pandas UDFs.
QUERY_MIX = {
    "relational": ["pricing_summary", "revenue_by_supplier_nation"],
    "athena": ["athena_q1_active_by_society"],
    "events": ["session_windows"],
    "textops": ["minhash_near_duplicates"],
    "vectors": ["cosine_topk", "ivf_ann_topk"],
}


class CheckFailed(Exception):
    """An op's output disagrees with the expected answer."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def noop(df) -> None:
    """Materialize every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def parquet_rows(path: str) -> int:
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def pdf_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row-order-insensitive hash, row count) of a materialized result."""
    canon = pdf[sorted(pdf.columns)].copy()
    for c in canon.columns:
        if canon[c].dtype == object:
            canon[c] = canon[c].map(repr)
    rows = pd.util.hash_pandas_object(canon, index=False)
    return int(rows.sum()) & (2**64 - 1), len(pdf)


def check_analytics(q: dict, exp: dict) -> None:
    """q1-q3 results against the generator's expected answers."""
    got = dict(zip(q["q1"].tipo_sociedad, q["q1"].total_empresas_activas))
    expect(got == exp["q1"], f"q1 {got} != {exp['q1']}")
    got = list(zip(q["q2"].actividad_economica, q["q2"].antiguedad_promedio,
                   q["q2"].total_empresas))
    expect(len(got) == len(exp["q2"]), "q2 row count")
    for (a, avg, n), (ea, eavg, en) in zip(got, exp["q2"]):
        expect(a == ea and n == en and abs(avg - eavg) <= 1e-9 * abs(eavg), f"q2 {a}")
    got = list(zip(q["q3"].camara_comercio, q["q3"].tasa_renovacion_pct))
    expect(len(got) == len(exp["q3"]), "q3 row count")
    for (c, pct), (ec, epct) in zip(got, exp["q3"]):
        expect(c == ec and abs(pct - epct) <= 1e-9 * max(1.0, epct), f"q3 {c}")


def run_analytics(tr, spark, names) -> dict:
    """plans/analytics queries over the registered gold views, each fully
    materialized."""
    runners = {
        "q1": lambda: analytics.q1_active_by_society_type(spark),
        "q2": lambda: analytics.q2_avg_age_by_activity(spark),
        "q3": lambda: analytics.q3_renewal_rate_by_chamber(spark),
        "q4": lambda: analytics.q4_ml_renewal_dataset(
            spark, current_year=rues_gen.REFERENCE_YEAR
        ),
    }
    out = {}
    for name in names:
        with tr.span(f"plans.analytics.{name}"):
            out[name] = runners[name]().toPandas()
    return out


class MedallionBuild:
    """One op is a full bronze -> silver -> gold -> analytics pass over the
    raw registry extract, shaped like the package's CLI jobs."""

    round_s = 12.0

    def __init__(self, work: str, seed: int, tr, keys: int = BUILD_KEYS) -> None:
        self.work, self.seed, self.tr, self.keys = work, seed, tr, keys
        self.lake = f"{work}/lake"
        self.written = 0
        self.refresh_lat: dict[str, list[float]] = {"write": [], "read": []}

    def generate(self) -> dict:
        gen = rues_gen.RuesGenerator(self.seed, self.keys)
        raw = f"{self.work}/raw"
        os.makedirs(raw)
        self.rows = gen.write_base(f"{raw}/rues_empresas.csv")
        self.paths = {"raw_csv": f"{raw}/rues_empresas.csv", **gen.write_catalogs(raw)}
        self.expected = gen.expected()
        self.input_bytes = os.path.getsize(self.paths["raw_csv"])
        warm = rues_gen.RuesGenerator(self.seed, min(self.keys, WARM_KEYS))
        os.makedirs(f"{self.work}/warm_raw")
        warm.write_base(f"{self.work}/warm_raw/rues_empresas.csv")
        self.warm_paths = {**self.paths, "raw_csv": f"{self.work}/warm_raw/rues_empresas.csv"}
        return {"rues_keys": self.keys, "rues_rows": self.rows, "rues_csv_bytes": self.input_bytes}

    def setup(self, spark) -> None:
        self.spark = spark

    def warm_up(self) -> None:
        """A pass over the smaller warm-up CSV into a lake of its own."""
        self._pass(self.warm_paths, f"{self.work}/warm_lake")
        # gone before the kernel writes it back, so no timed pass waits on that
        shutil.rmtree(f"{self.work}/warm_lake")

    def round(self, rng) -> list:
        return ["build"]

    def prepare(self, op) -> None:
        pass

    def run_op(self, op) -> dict:
        return self._pass(self.paths, self.lake)

    def _write(self, name, fn, df, path, *args) -> None:
        with self.tr.span(name) as s:
            fn(df, path, *args)
        if s is not None:
            s.counts["bytes"], s.counts["files"] = dir_size(path)

    def _pass(self, paths: dict, lake: str) -> dict:
        tr, spark = self.tr, self.spark
        with tr.span("plans.rues.bronze"):
            raw = tr.call("sources.read_csv_robust", read_csv_robust, spark, paths["raw_csv"])
            df = tr.call("functions.snake_case_columns", snake_case_columns, raw)
            tr.call("operators.sampled_profile", sampled_profile, df, fraction=0.01, seed=42)
            self._write("sources.write_parquet_partitioned", write_parquet_partitioned,
                        bronze_year_partition(df), f"{lake}/bronze", "year_partition", 30)
        with tr.span("plans.rues.silver"):
            bronze = tr.call("sources.read_parquet_lake", read_parquet_lake, spark,
                             f"{lake}/bronze", drop_partition_cols=["year_partition"])
            cat_ident = tr.call("sources.read_csv_robust", read_csv_robust, spark,
                                paths["cat_identificaciones"])
            cat_ciiu = tr.call("sources.read_csv_robust", read_csv_robust, spark, paths["cat_ciiu"])
            silver = tr.call("plans.rues.apply_rules", apply_rules, bronze,
                             silver_rules(cat_ident, cat_ciiu, CONFIG)).cache()
            try:
                counts, _ = tr.call("operators.consolidated_validation", consolidated_validation,
                                    silver, silver_validation_rules())
                self._write("sources.write_parquet_partitioned", write_parquet_partitioned,
                            silver_year_partition(silver), f"{lake}/silver", "year_partition", 30)
            finally:
                silver.unpersist()
        with tr.span("plans.rues.gold"):
            s = tr.call("sources.read_parquet_lake", read_parquet_lake, spark,
                        f"{lake}/silver", drop_partition_cols=["year_partition"])
            dim = tr.call("plans.rues.build_dim_empresa", build_dim_empresa, s).cache()
            fact = tr.call("plans.rues.build_fact_renovacion", build_fact_renovacion, s, CONFIG).cache()
            try:
                with tr.span("operators.anti_join_orphans"):
                    orphans = [r[0] for r in anti_join_orphans(fact, dim, "matricula").collect()]
                self._write("sources.write_parquet", write_parquet, dim,
                            f"{lake}/gold/dim_empresa", 20)
                self._write("sources.write_parquet_partitioned", write_parquet_partitioned, fact,
                            f"{lake}/gold/fact_renovacion", "estado_matricula", 30)
            finally:
                dim.unpersist()
                fact.unpersist()
        with tr.span("plans.analytics"):
            analytics.register_gold_views(
                spark,
                spark.read.parquet(f"{lake}/gold/dim_empresa"),
                spark.read.parquet(f"{lake}/gold/fact_renovacion"),
            )
            q = run_analytics(tr, spark, ("q1", "q2", "q3", "q4"))
        return {"counts": counts, "orphans": orphans, "q": q}

    def check_op(self, op, res: dict) -> None:
        exp, lake = self.expected, self.lake
        expect(res["counts"] == exp["validation"], "silver validation counts")
        expect(res["orphans"] == exp["orphans"], "gold orphan keys")
        expect(parquet_rows(f"{lake}/silver") == exp["silver_rows"], "silver rows")
        expect(parquet_rows(f"{lake}/gold/dim_empresa") == exp["dim_rows"], "dim rows")
        expect(parquet_rows(f"{lake}/gold/fact_renovacion") == exp["fact_rows"], "fact rows")
        check_analytics(res["q"], exp)
        expect(len(res["q"]["q4"]) == exp["q4_rows"], "q4 rows")
        golden = (
            pads.dataset(f"{lake}/silver", format="parquet", partitioning="hive")
            .to_table(filter=pads.field("matricula") == rues_gen.GOLDEN[0])
            .to_pylist()
        )
        expect(len(golden) == 1, "golden record kept once")
        for k, v in exp["golden"].items():
            expect(golden[0][k] == v, f"golden {k}: {golden[0][k]!r} != {v!r}")
        self.written = sum(dir_size(f"{lake}/{d}")[0] for d in ("bronze", "silver", "gold"))

    def probe(self) -> None:
        """Readers, functions and operators in isolation over cached bronze."""
        tr, spark = self.tr, self.spark
        bronze = read_parquet_lake(spark, f"{self.lake}/bronze",
                                   drop_partition_cols=["year_partition"]).cache()
        try:
            rows_in = bronze.count()
            raw = read_csv_robust(spark, self.paths["raw_csv"])  # header read outside
            with tr.span("sources.read_csv_robust.scan"):
                noop(raw)
            with tr.span("functions.multi_format_date"):
                noop(bronze.select([multi_format_date(F.col(c)).alias(c) for c in DATE_COLUMNS]))
            latest = keep_latest(rn001_standardize_dates(bronze), KEYS, "fecha_actualizacion")
            with tr.span("operators.keep_latest") as s:
                noop(latest)
            s.counts.update(rows_in=rows_in, rows_out=latest.count())
            ciiu = read_csv_robust(spark, self.paths["cat_ciiu"]).select(
                F.trim("codigo").alias("cod_ciiu_join"), "actividad"
            )
            left = bronze.withColumn("cod_ciiu_act_econ_pri", F.trim("cod_ciiu_act_econ_pri"))
            with tr.span("operators.enrich_with_dim"):
                noop(enrich_with_dim(
                    left, ciiu, on=left.cod_ciiu_act_econ_pri == F.col("cod_ciiu_join"),
                    select_map={"cod_ciiu_join": "cod_ciiu_join", "actividad": "actividad_economica"},
                    drop_join_col="cod_ciiu_join",
                ))
        finally:
            bronze.unpersist()
        self._probe_refresh()

    def _probe_refresh(self) -> None:
        """The small-append path over the same kind of registry data: a
        standing silver snapshot under two rounds of one bookmark-driven
        refresh to three analytics reads, each op checked."""
        refresh = MedallionRefresh(f"{self.work}/refresh", self.seed, self.tr)
        refresh.generate()
        refresh.setup(self.spark)
        refresh.warm_up()
        for _ in range(2):
            for op in ("write", "read", "read", "read"):
                refresh.prepare(op)
                t = time.perf_counter()
                res = refresh.run_op(op)
                self.refresh_lat[op].append(time.perf_counter() - t)
                refresh.check_op(op, res)
                self.tr.resolve()
        refresh.probe()
        refresh.final_check()
        self.refresh_space_amp = refresh.space_amp()

    def final_check(self) -> None:
        pass

    def layer_values(self, lat: dict) -> dict:
        return {
            "rues.input_rows_per_s": self.rows * len(lat["build"]) / sum(lat["build"]),
            "lake.write_amp": self.written / self.input_bytes,
            "refresh.space_amp": self.refresh_space_amp,
            "refresh.write_p50_s": statistics.median(self.refresh_lat["write"]),
            "refresh.read_p50_s": statistics.median(self.refresh_lat["read"]),
        }


class MedallionRefresh:
    """A standing silver snapshot under a mix of bookmark-driven
    incremental refreshes (a small landed CSV batch each) and analytics
    reads of the refreshed table. Not a workload of its own: the traced
    ``medallion_build`` run drives it as a probe."""

    def __init__(
        self, work: str, seed: int, tr, keys: int = REFRESH_KEYS, batch_rows: int = BATCH_ROWS
    ) -> None:
        self.work, self.seed, self.tr = work, seed, tr
        self.keys, self.batch_rows = keys, batch_rows
        self.landing = f"{work}/landing"
        self.target = f"{work}/silver_snapshot"
        self.pattern = f"{self.landing}/*.csv"

    def generate(self) -> dict:
        self.gen = rues_gen.RuesGenerator(self.seed, self.keys)
        os.makedirs(self.landing)
        rows = self.gen.write_base(f"{self.landing}/b00000.csv")
        os.makedirs(f"{self.work}/staging")
        self.cats = self.gen.write_catalogs(f"{self.work}/staging")
        self.gen.write_update_batch(f"{self.work}/staging/b00001.csv", self.batch_rows)
        self.batch_no = 1
        self.expected = self.gen.expected()
        return {"rues_keys": self.keys, "rues_rows": rows, "batch_rows": self.batch_rows}

    def setup(self, spark) -> None:
        self.spark = spark
        self.cat_ident = read_csv_robust(spark, self.cats["cat_identificaciones"])
        self.cat_ciiu = read_csv_robust(spark, self.cats["cat_ciiu"])
        self.bookmark = JobBookmark(f"{self.work}/bookmark/state.json", "silver")
        self._refresh()

    def warm_up(self) -> None:
        shutil.copy(f"{self.work}/staging/b00001.csv", f"{self.landing}/b00001.csv")
        self._refresh()
        self._read()

    def _transform(self, df):
        return apply_rules(df, silver_rules(self.cat_ident, self.cat_ciiu, CONFIG))

    def _refresh(self) -> int:
        with self.tr.span("plans.incremental.incremental_refresh") as self.refresh_span:
            return incremental_refresh(
                self.spark, self.bookmark, self.pattern, self._transform, self.target,
                keys=KEYS, order_col="fecha_actualizacion", fmt="csv", **ROBUST_CSV_OPTIONS,
            )

    def _read(self) -> dict:
        silver = self.tr.call("plans.incremental.read_refreshed", read_refreshed,
                              self.spark, self.target)
        analytics.register_gold_views(
            self.spark, build_dim_empresa(silver), build_fact_renovacion(silver, CONFIG)
        )
        return run_analytics(self.tr, self.spark, ("q1", "q2", "q3"))

    def prepare(self, op) -> None:
        """Land the next batch before a write op (outside timing)."""
        if op == "write":
            self.batch_no += 1
            self.batch = f"{self.landing}/b{self.batch_no:05d}.csv"
            self.gen.write_update_batch(self.batch, self.batch_rows)

    def run_op(self, op):
        return self._refresh() if op == "write" else self._read()

    def check_op(self, op, res) -> None:
        if op == "read":
            check_analytics(res, self.expected)
            return
        expect(res == 1, f"refresh saw {res} new files, expected 1")
        version = f"{self.target}/{read_pointer(self.target)['version']}"
        expect(parquet_rows(version) == len(self.gen.latest), "snapshot rows")
        self.expected = self.gen.expected()
        if self.refresh_span is not None:
            self.refresh_span.counts.update(
                new_files=res, bytes_written=dir_size(version)[0],
                delta_bytes=os.path.getsize(self.batch),
            )

    def probe(self) -> None:
        """Bookmark listing and commit in isolation; the commit goes to a
        copy of the state file so the live bookmark is untouched."""
        with self.tr.span("sources.bookmarks.pending_files"):
            self.bookmark.pending_files(self.pattern)
        probe_state = f"{self.work}/bookmark/probe.json"
        shutil.copy(self.bookmark.state_path, probe_state)
        probe = JobBookmark(probe_state, "silver")
        with self.tr.span("sources.bookmarks.commit_files"):
            probe.commit_files([f"{self.landing}/probe.csv"])

    def final_check(self) -> None:
        """The refreshed snapshot equals keep_latest(transform(all files))."""
        files = sorted(glob.glob(self.pattern))
        rebuilt = keep_latest(
            self._transform(read_csv_robust(self.spark, files)), KEYS, "fecha_actualizacion"
        )
        live = read_refreshed(self.spark, self.target).select(*rebuilt.columns)
        expect(live.count() == len(self.gen.latest), "snapshot keys")
        expect(live.exceptAll(rebuilt).count() == 0, "snapshot rows missing from rebuild")
        expect(rebuilt.exceptAll(live).count() == 0, "rebuild rows missing from snapshot")

    def space_amp(self) -> float:
        """Bytes the snapshot stores per byte of every CSV landed so far."""
        landed = sum(os.path.getsize(f) for f in glob.glob(self.pattern))
        return dir_size(self.target)[0] / landed


class QueryMix:
    """One op is one registered query over the generated tables, fully
    materialized; a round runs every query of the mix once."""

    round_s = 7.0

    def __init__(self, work: str, seed: int, tr) -> None:
        self.work, self.seed, self.tr = work, seed, tr
        self.module = {q: m for m, qs in QUERY_MIX.items() for q in qs}
        self.sf_dir = f"{work}/tables"
        self.hashes: dict[str, tuple] = {}
        self.results: dict[str, pd.DataFrame] = {}

    def generate(self) -> dict:
        rows = tables_gen.generate(self.sf_dir, self.seed, TABLES_SF)
        return {"tables_sf": TABLES_SF, **{f"{t}_rows": n for t, n in rows.items()}}

    def setup(self, spark) -> None:
        from big_data_processing_with_aws_glue_workshop_spark.queries import QUERIES

        self.spark, self.queries = spark, QUERIES

    def warm_up(self) -> None:
        """One round in name order, so no timed op is a query's first run."""
        for name in sorted(self.module):
            self.run_op(name)

    def round(self, rng) -> list:
        names = sorted(self.module)
        rng.shuffle(names)
        return names

    def prepare(self, op) -> None:
        pass

    def run_op(self, name: str) -> pd.DataFrame:
        tr = self.tr
        with tr.span(f"queries.{self.module[name]}"):
            df = tr.call(f"queries.{self.module[name]}.build", self.queries[name],
                         self.spark, self.sf_dir)
            return df.toPandas()

    def check_op(self, name: str, pdf: pd.DataFrame) -> None:
        h = pdf_hash(pdf)
        expect(self.hashes.setdefault(name, h) == h, f"{name} result changed between ops")
        self.results.setdefault(name, pdf)

    def final_check(self) -> None:
        """Each query's result against its DuckDB twin, where one exists."""
        from big_data_processing_with_aws_glue_workshop_spark.queries import ORACLES
        from tests.oracle_harness import compare

        for name, pdf in sorted(self.results.items()):
            if name in ORACLES:
                try:
                    compare(_Materialized(pdf), ORACLES[name], self.sf_dir)
                except AssertionError as e:
                    raise CheckFailed(f"{name}: {e}") from e

    def probe(self) -> None:
        _probe_extensions(self.tr, self.spark, self.sf_dir)

    def layer_values(self, lat: dict) -> dict:
        return {}


class _Materialized:
    """An op's collected result in the shape the oracle comparison reads."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _probe_extensions(tr, spark, sf_dir: str) -> None:
    """The extension operators behind the textops/vectors queries, each called
    directly with the queries' parameters and materialized."""
    from big_data_processing_with_aws_glue_workshop_spark.extensions.dedup_fuzzy import (
        connected_components,
        lsh_candidate_pairs,
        minhash_near_duplicates,
        minhash_signatures,
        simhash,
    )
    from big_data_processing_with_aws_glue_workshop_spark.extensions.ivf import (
        ivf_topk,
        train_ivf_index,
    )
    from big_data_processing_with_aws_glue_workshop_spark.queries.vectors import (
        N_QUERIES,
        TOP_K,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with tr.span("extensions.minhash_signatures"):
        sigs = minhash_signatures(docs, n_hashes=64, shingle_n=3, seed=42).cache()
        sigs.count()
    try:
        with tr.span("extensions.lsh_candidate_pairs"):
            cands = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4, n_hashes=64)
            noop(cands)
        candidates = cands.count()
    finally:
        sigs.unpersist()
    with tr.span("extensions.minhash_near_duplicates") as s:
        pairs = minhash_near_duplicates(
            docs, n_hashes=64, bands=16, shingle_n=3, threshold=0.8, seed=42
        ).cache()
        verified = pairs.count()
    s.counts.update(candidates=candidates, verified=verified)
    try:
        with tr.span("extensions.connected_components"):
            noop(connected_components(pairs, "d1", "d2"))
    finally:
        pairs.unpersist()
    with tr.span("extensions.simhash"):
        noop(simhash(docs, n_bits=32))
    with tr.span("extensions.train_ivf_index"):
        assigned, _, _ = train_ivf_index(emb, nlist=16, seed=42)
        noop(assigned)
    with tr.span("extensions.ivf_topk"):
        noop(ivf_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOP_K, nlist=16,
                      nprobe=6, seed=42))


WORKLOADS = {
    "medallion_build": MedallionBuild,
    "query_mix": QueryMix,
}
