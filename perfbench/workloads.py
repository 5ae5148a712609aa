"""The benchmark's workloads, run against the program's public entry points.

- ``form1_annual``: ``cli.run_main`` with ``--frozen-catalog`` over a
  Form-1-shaped filing archive, sinking to Parquet, SQLite, DuckDB and the
  datapackage descriptors.
- ``embed_mine``: the ``operators.similarity`` mining calls over a sharded
  embedding corpus, each output written to Parquet.

Each workload object runs once per ``run()`` call, checks its last outputs
with ``check()`` and, for the traced run, patches the layer functions it
reaches with ``install_trace``.
"""

from __future__ import annotations

import importlib
import json
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from functools import reduce
from pathlib import Path

import check


def _dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Form1Annual:
    name = "form1_annual"

    def __init__(self, spark, inputs: Path, meta: dict, out: Path) -> None:
        self.spark = spark
        self.inputs = inputs
        self.meta = meta
        self.out = out
        self.catalog = json.loads((inputs / "catalog.json").read_text())
        self.ops = [*self.catalog, "datapackage"]
        self.span = lambda name: nullcontext()
        self.rep: dict = {}
        self.dedup_inputs: list = []  # dedup calls of the last traced run

    def argv(self) -> list[str]:
        return [
            *[str(self.inputs / z) for z in self.meta["zips"]],
            "--frozen-catalog", str(self.inputs / "catalog.json"),
            "--output-dir", str(self.out / "parquet"),
            "--sqlite-path", str(self.out / "ferc.sqlite"),
            "--duckdb-path", str(self.out / "ferc.duckdb"),
            "--datapackage-path", str(self.out / "datapackage.json"),
            "--loglevel", "WARNING",
        ]

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        self.rep = {"cached": [], "dedup": []}

    def run(self) -> None:
        from ferc_xbrl_extractor_spark import cli

        with self.span("cli.run_main"):
            code = cli.run_main(cli.parse(self.argv()))
        if code != 0:
            raise RuntimeError(f"run_main exited with {code}")

    def finish(self) -> None:
        for df in self.rep.get("cached", []):
            df.unpersist()
        if self.rep.get("dedup"):
            self.dedup_inputs = self.rep["dedup"]

    def check(self) -> dict[str, str | None]:
        return check.check_extract(
            self.out, self.inputs, ("sqlite", "duckdb", "datapackage")
        )

    def out_bytes(self) -> int:
        return _dir_bytes(self.out)[1]

    # ---------------------------------------------------------------- trace

    def install_trace(self, tracer) -> None:
        """Wrap the layer functions by module global and force each lazy
        stage inside its own span: scan, then shred, then every table
        (cached), then the sinks reading those cached tables."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from ferc_xbrl_extractor_spark.pipeline import sinks

        ext = importlib.import_module("ferc_xbrl_extractor_spark.pipeline.extract")
        ft = importlib.import_module("ferc_xbrl_extractor_spark.operators.fact_table")
        level = StorageLevel.MEMORY_AND_DISK

        def force_scan(df, args, kwargs):
            df = df.persist(level)
            self.rep["cached"].append(df)
            n, size = df.agg(F.count(F.lit(1)), F.sum(F.length("content"))).first()
            tracer.add("filings.count", n)
            tracer.add("filings.bytes", size or 0)
            return df

        def force_shred(df, args, kwargs):
            df = df.persist(level)
            parts = (
                df.groupBy(F.spark_partition_id())
                .agg(
                    F.sum((F.col("record_type") == "fact").cast("long")),
                    F.sum((F.col("record_type") == "context").cast("long")),
                )
                .collect()
            )
            tracer.add("shredder.facts", sum(r[1] for r in parts))
            tracer.add("shredder.contexts", sum(r[2] for r in parts))
            tracer.add("shredder.nonempty_partitions", len(parts))
            return df

        def keep_dedup(result, args, kwargs):
            self.rep["dedup"].append((args[0], args[1], result))
            return result

        tracer.wrap(ext, "scan_filings", "filings.scan", after=force_scan)
        tracer.wrap(ext, "shred_filings", "shredder.shred", after=force_shred)
        tracer.wrap(ext, "construct_table_with_errors", "fact_table.plan")
        tracer.wrap(ft, "fuzzy_dedup", "dedup.plan", after=keep_dedup)
        real_write_parquet = sinks.write_parquet

        def write_parquet(tables, out_dir, *args, **kwargs):
            if not tracer.active:
                return real_write_parquet(tables, out_dir, *args, **kwargs)
            with tracer.span("fact_table.exec"):
                cached = {n: df.persist(level) for n, df in tables.items()}
                with ThreadPoolExecutor(max_workers=8) as pool:
                    rows = list(pool.map(lambda df: df.count(), cached.values()))
            self.rep["cached"].extend(cached.values())
            tracer.add("fact_table.tables", len(rows))
            tracer.add("fact_table.nonempty", sum(1 for r in rows if r))
            tracer.add("fact_table.rows_out", sum(rows))
            with tracer.span("sinks.parquet"):
                real_write_parquet(cached, out_dir, *args, **kwargs)
            files, size = _dir_bytes(Path(out_dir))
            tracer.add("sinks.files", files)
            tracer.add("sinks.bytes", size)

        sinks.write_parquet = write_parquet
        tracer.wrap(sinks, "staged_row_counts", "sinks.row_counts")
        tracer.wrap(sinks, "write_sqlite", "sinks.sqlite")
        tracer.wrap(sinks, "write_duckdb", "sinks.duckdb")
        tracer.wrap(sinks, "write_datapackage", "sinks.datapackage")
        self.span = tracer.span

    def layer_counts(self) -> dict[str, int]:
        """Exact duplicates dropped, keys resolved by precision and keys
        left in conflict, over every table's dedup input of the last traced
        run. Runs two extra Spark jobs, after the timed runs."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        captured = self.dedup_inputs
        if not captured:
            return {}
        keys = captured[0][1]
        union = reduce(
            DataFrame.unionByName,
            [
                df.select(F.lit(i).alias("__t"), *keys, F.col("value").alias("__v"))
                for i, (df, _keys, _res) in enumerate(captured)
            ],
        )
        rows, distinct, n_keys, multi = (
            union.groupBy("__t", *keys)
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("__v").alias("d"))
            .agg(
                F.sum("n"), F.sum("d"), F.count(F.lit(1)),
                F.sum((F.col("d") > 1).cast("long")),
            )
            .first()
        )
        resolved = reduce(
            DataFrame.unionByName,
            [res.resolved.select(F.lit(1).alias("x")) for _df, _k, res in captured],
        ).count()
        conflicts = (n_keys or 0) - resolved
        return {
            "dedup.exact_dropped": (rows or 0) - (distinct or 0),
            "dedup.fuzzy_merged": (multi or 0) - conflicts,
            "dedup.conflicts": conflicts,
        }


class EmbedMine:
    name = "embed_mine"
    ops = list(check.MINING_COLUMNS)

    def __init__(self, spark, inputs: Path, meta: dict, out: Path) -> None:
        self.spark = spark
        self.inputs = inputs
        self.meta = meta
        self.out = out
        self.params = json.loads((inputs / "params.json").read_text())
        self.span = lambda name: nullcontext()

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)

    def run(self) -> None:
        from pyspark.sql import functions as F

        from ferc_xbrl_extractor_spark.operators import similarity as sim

        p = self.params
        read = self.spark.read.parquet
        with self.span("embed.run"):
            corpus = read(str(self.inputs / "corpus"))
            with self.span("similarity.topk"):
                queries = corpus.filter(F.col("vec_id").isin(p["query_ids"]))
                sim.cosine_topk(corpus, queries, k=p["k"]).write.parquet(
                    str(self.out / "topk")
                )
            with self.span("similarity.hard_neg"):
                anchors = corpus.filter(F.col("vec_id").isin(p["anchor_ids"]))
                sim.hard_negative_pairs(
                    corpus, anchors, k_neg=p["k_neg"], n_pos=p["n_pos"]
                ).write.parquet(str(self.out / "hard_neg"))
            with self.span("similarity.knn_join"):
                sim.knn_join(
                    corpus.filter(F.col("vec_id") < p["knn_max_id"]),
                    p["centroids"], k=p["k"], nprobe=p["nprobe"],
                ).write.parquet(str(self.out / "knn"))
            with self.span("similarity.margin"):
                sim.margin_mine(
                    read(str(self.inputs / "left")),
                    read(str(self.inputs / "right")),
                    k=p["margin_k"],
                ).write.parquet(str(self.out / "margin"))

    def finish(self) -> None:
        pass

    def check(self) -> dict[str, str | None]:
        return check.check_mining(self.out, self.inputs)

    def out_bytes(self) -> int:
        return _dir_bytes(self.out)[1]

    def install_trace(self, tracer) -> None:
        self.span = tracer.span

    def layer_counts(self) -> dict[str, int]:
        corpus = self.spark.read.parquet(str(self.inputs / "corpus"))
        return {
            "similarity.pairs_scored": self.meta["items"],
            "similarity.scan_partitions": corpus.rdd.getNumPartitions(),
        }


WORKLOADS = {w.name: w for w in (Form1Annual, EmbedMine)}
