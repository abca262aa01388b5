"""The benchmark's workloads: inputs from a seed, a timed loop, checks.

Each workload is closed loop with one client (this process). ``run``
makes the inputs, runs one untimed warm-up step, then timed steps until
``seconds`` have passed (at least ``min_steps``). A step has a *produce*
phase and a *store* phase:

- ``forecast_publish`` (the paper's flow, one daily landing batch per
  step): produce = ``EnvStacEngine.process`` + ``save_catalog`` into one
  STAC tree that grows batch by batch; store = ``load_catalog_tree``,
  the append ingest into embedded Derby (bulk key scan, anti-join,
  ``write.jdbc``), then the ON CONFLICT re-upsert of the whole tree
  into sqlite.
- ``corpus_curate`` (the curation product surface, one ``curate()``
  call per step): produce = the full chain over a make_testdata corpus;
  store = writing the selected documents as parquet, as
  ``envstacgen-spark curate --output`` does.

Every step's outputs are checked; a failed check counts the step as
failed and makes the command exit non-zero.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import sqlite3
import sys
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from spans import ENGINE, FULL_LAYERS, LAYER_METRICS, Tracer


class CheckFailed(Exception):
    pass


def check(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    layer_metrics: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)


class Workload:
    """Shared loop: warm-up, timed steps, checks, metrics, trace."""

    name = ""
    # store phase measurements per timed step (the warm-up makes one);
    # the store phase is short, so the median over every repeat of every
    # timed step is kept
    store_repeats = 3
    # timed steps per run at least: a fixed count keeps runs comparable
    # (the first step after the warm-up is still a little slow)
    min_steps = 1

    def __init__(self, spark, seed: int, size: str, work: Path, trace: bool):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.work = work
        self.trace = trace
        self.tracer: Tracer | None = None
        self.run_dir = work / "runs" / self.name
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.run_dir.mkdir(parents=True)

    # subclasses: prepare(), step(index) -> (produce_s, [store_s, ...]),
    # units_per_step, counters for the traced singles

    def store_runs(self, index: int) -> int:
        return self.store_repeats if index else 1

    def facade(self):
        """Span for benchmark-side calls into the engine facade."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(ENGINE)

    def run(self, seconds: float, corrupt: bool = False) -> Result:
        res = Result()
        self.corrupt = corrupt
        self.prepare()
        produce, store = [], []
        index = 0
        try:
            res.attempted += 1
            t_warm = time.perf_counter()
            self.step(index)  # warm-up: untimed, still checked
            res.context["warmup_s"] = round(time.perf_counter() - t_warm, 3)
            index += 1
            if self.trace:
                self.tracer = Tracer(self.spark)
                self.tracer.install()
            t0 = time.perf_counter()
            while index <= self.min_steps or time.perf_counter() - t0 < seconds:
                res.attempted += 1
                p, s = self.step(index)
                produce.append(p)
                store.extend(s)
                index += 1
            wall = time.perf_counter() - t0
        except CheckFailed as exc:
            res.failed += 1
            res.context["check_failed"] = str(exc)
        except Exception as exc:  # an engine error fails the step, reported
            traceback.print_exc()
            res.failed += 1
            res.context["step_error"] = f"{type(exc).__name__}: {str(exc)[:500]}"
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
        res.context.update(self.context())
        if res.failed:
            return res
        produce_s, store_s = statistics.median(produce), statistics.median(store)
        res.metrics = {
            "produce_s": {"value": produce_s, "unit": "s"},
            "store_s": {"value": store_s, "unit": "s"},
            "units_per_s": {
                "value": self.units_per_step / (produce_s + store_s),
                "unit": "1/s",
            },
        }
        res.samples = {
            "produce_s": len(produce), "store_s": len(store), "units_per_s": len(produce)
        }
        res.context["steps_s"] = {
            "produce": [round(v, 4) for v in produce],
            "store": [round(v, 4) for v in store],
        }
        if self.tracer is not None:
            res.layer_metrics = self.layer_metrics(wall)
            self.tracer.dump(self.run_dir / "trace.json")
            res.context["trace_spans"] = len(self.tracer.spans)
        return res

    def layer_metrics(self, wall: float) -> dict:
        acc = self.tracer.collect()
        out = {}
        for layer in FULL_LAYERS:
            for metric, unit in LAYER_METRICS:
                out[f"{layer}.{metric}"] = {"value": acc[layer][metric], "unit": unit}
        out["tables.self_s"] = {"value": acc["tables"]["self_s"], "unit": "s"}
        for key, (value, unit) in self.singles().items():
            out[key] = {"value": value, "unit": unit}
        out["trace.overhead_ratio"] = {
            "value": self.tracer.overhead_s / wall, "unit": "ratio"
        }
        return out

    def singles(self) -> dict:
        return {
            "sinks.raster.files_written": (0, "count"),
            "sinks.stac_json.docs_written": (0, "count"),
            "sinks.jdbc_upsert.rows_written": (0, "count"),
            "sinks.jdbc_upsert.round_trips": (0, "count"),
            "sinks.jdbc_upsert.skip_ratio": (0.0, "ratio"),
            "plans.curation_pipeline.survivor_ratio": (0.0, "ratio"),
        }

    def context(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# forecast_publish

FORECAST_SIZES = {
    # collections, init dates per batch, grid side, leadtimes, variables
    "default": dict(collections=2, inits=2, grid=16, leads=4, variables=2),
    "tiny": dict(collections=2, inits=1, grid=8, leads=2, variables=2),
}
FIRST_INIT = pd.Timestamp("2025-01-01")


def landing_decoder(seed: int, grid: int, leads: int, variables: int):
    """Decoder wrapper: each landing file is one (collection, init) item.

    The init date comes from the file name (``<collection>/<date>.nc``)
    and the values from ``netcdf.fake_decoder`` keyed by seed, collection
    and name, so the same seed gives the same rasters wherever the
    checkout lives."""
    from environmental_stac_generator_spark.sources import netcdf

    names = ("sic_mean", "sic_stddev", "sic_p90", "sic_p10")[:variables]
    inner = netcdf.fake_decoder(grid=grid, n_lead=leads, variables=names)

    def decode(path: str, content):
        collection, fname = path.rstrip("/").split("/")[-2:]
        init = pd.Timestamp(fname[: -len(".nc")])
        for chunk in inner(f"s{seed}/{collection}/{fname}", content):
            chunk["path"] = path
            chunk["forecast_reference_time"] = init
            yield chunk

    return decode


def landing_meta_decoder(seed: int):
    """Header twin of :func:`landing_decoder` (CRS, units, hemisphere)."""
    from environmental_stac_generator_spark.sources import netcdf

    def meta(path: str, content=None) -> dict:
        collection, fname = path.rstrip("/").split("/")[-2:]
        row = netcdf.fake_meta_decoder(f"s{seed}/{collection}/{fname}", content)
        row["path"] = path
        row["collection"] = collection
        return row

    return meta


def squash_transform(crs, xmin, ymin, xmax, ymax):
    """Deterministic stand-in for pyproj's bbox reprojection."""
    return (xmin / 1e6, ymin / 1e6, xmax / 1e6, ymax / 1e6)


class ForecastPublish(Workload):
    name = "forecast_publish"

    def prepare(self) -> None:
        from environmental_stac_generator_spark.engine import EnvStacEngine

        cfg = FORECAST_SIZES[self.size]
        self.cfg = cfg
        # the shape is part of every cache key, so files made for another
        # shape under the same size name are never reused
        self.shape = "-".join(f"{k[0]}{v}" for k, v in sorted(cfg.items()))
        self.files_per_batch = cfg["collections"] * cfg["inits"]
        self.units_per_step = (
            self.files_per_batch * cfg["grid"] ** 2 * cfg["leads"] * cfg["variables"]
        )
        # landing files live at a fixed path per seed and shape
        self.landing = self.work / "landing" / f"{self.shape}-seed{self.seed}"
        self.out = self.run_dir / "out"
        self.stac_dir = self.out / "stac" / "forecasts"
        self.engine = EnvStacEngine(
            self.spark,
            catalog_name="forecasts",
            output_dir=str(self.out),
            decoder=landing_decoder(
                self.seed, cfg["grid"], cfg["leads"], cfg["variables"]
            ),
            meta_decoder=landing_meta_decoder(self.seed),
            bbox_transform=squash_transform,
        )
        self.derby_url = f"jdbc:derby:{self.run_dir / 'derby'}"
        self.derby_props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        self._derby(
            [
                "CREATE TABLE collections (id VARCHAR(256) PRIMARY KEY, json CLOB)",
                "CREATE TABLE items (id VARCHAR(256), collection VARCHAR(256), "
                "json CLOB, PRIMARY KEY (id, collection))",
            ],
            create=True,
        )
        self.sqlite = str(self.run_dir / "stac.db")
        con = sqlite3.connect(self.sqlite)
        con.executescript(
            "CREATE TABLE collections (id TEXT PRIMARY KEY, json TEXT);"
            "CREATE TABLE items (id TEXT, collection TEXT REFERENCES "
            "collections(id), json TEXT, PRIMARY KEY (id, collection));"
        )
        con.close()
        self.counts = dict(files=0, docs=0, rows=0, offered=0, skipped=0)
        self.round_trips = None
        self.digests: dict[str, str] = {}

    # ---- helpers ----

    def _derby(self, statements: list[str], create: bool = False) -> list[int]:
        jvm = self.spark.sparkContext._jvm
        url = self.derby_url + (";create=true" if create else "")
        con = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = con.createStatement()
            out = []
            for sql in statements:
                if sql.startswith("SELECT"):
                    rs = st.executeQuery(sql)
                    rs.next()
                    out.append(int(rs.getLong(1)))
                else:
                    st.execute(sql)
            return out
        finally:
            con.close()

    def batch_dates(self, index: int) -> list[pd.Timestamp]:
        n = self.cfg["inits"]
        return [FIRST_INIT + pd.Timedelta(days=index * n + i) for i in range(n)]

    def make_batch(self, index: int) -> str:
        root = self.landing / f"batch{index:03d}"
        if not (root / "_DONE").exists():
            for c in range(self.cfg["collections"]):
                d = root / f"coll{c:02d}"
                d.mkdir(parents=True, exist_ok=True)
                for t in self.batch_dates(index):
                    (d / f"{t.date()}.nc").write_bytes(b"\x89HDF")
            (root / "_DONE").write_text("")
        return str(root / "*")

    def _connection_factory(self):
        from environmental_stac_generator_spark.sinks.jdbc_upsert import (
            sqlite_connection_factory,
        )

        factory = unsynced_factory(sqlite_connection_factory)
        if self.tracer is None:
            return factory
        if self.round_trips is None:
            self.round_trips = self.spark.sparkContext.accumulator(0)
        return counting_factory(self.round_trips, factory)

    # ---- one batch ----

    def step(self, index: int) -> tuple[float, float]:
        src = self.make_batch(index)
        t_mark = time.time_ns()
        t0 = time.perf_counter()
        with self.facade():
            results = self.engine.process(src, forecast_frequency="1days")
            self.engine.save_catalog(results)
            self.engine.release()
        t1 = time.perf_counter()
        if self.corrupt and index == 1:
            next((self.out / "cogs").rglob("*.tif")).unlink()
        written_files, written_docs = self._written_since(t_mark)

        stores, written = [], []
        for repeat in range(self.store_runs(index)):
            if repeat:
                self._undo_append(index)
            t2 = time.perf_counter()
            written.append(self.store())
            stores.append(time.perf_counter() - t2)
        appended, upserted = written[-1]
        check(
            all(w == written[0] for w in written),
            f"batch {index}: store repeats wrote different rows: {written}",
        )
        self.check_batch(index, appended, upserted)
        if index > 0:
            n_coll, n_items = self.cfg["collections"], self.files_per_batch * (index + 1)
            offered = n_coll + n_items
            added = appended["collections"] + appended["items"]
            self.counts["files"] += written_files
            self.counts["docs"] += written_docs
            self.counts["rows"] += len(stores) * (
                added + upserted["collections"] + upserted["items"]
            )
            self.counts["offered"] += offered
            self.counts["skipped"] += offered - added
        return t1 - t0, stores

    def store(self) -> tuple[dict, dict]:
        """Tree load, append ingest into Derby, full re-upsert into sqlite."""
        from environmental_stac_generator_spark.sinks import stac_json
        from environmental_stac_generator_spark.sinks.jdbc_upsert import ingest_catalog

        with self.facade():
            tree = stac_json.load_catalog_tree(self.spark, str(self.stac_dir))
            collections = tree.filter(F.col("type") == "Collection").select(
                "id", F.to_json(F.struct("*")).alias("json")
            )
            items = tree.filter(F.col("type") == "Feature").select(
                "id", "collection", F.to_json(F.struct("*")).alias("json")
            )
            appended = ingest_catalog(
                self.spark, collections, items,
                jdbc_url=self.derby_url, dsn="", overwrite=False,
                properties=self.derby_props,
            )
            upserted = ingest_catalog(
                self.spark, collections, items,
                jdbc_url="", dsn=self.sqlite, overwrite=True,
                connection_factory=self._connection_factory(), paramstyle="qmark",
            )
        return appended, upserted

    def _undo_append(self, index: int) -> None:
        """Delete the items the batch appended to Derby, so a repeat of
        the store phase appends the same rows onto the same table."""
        ids = ", ".join(f"'{item_id(t)}'" for t in self.batch_dates(index))
        self._derby([f"DELETE FROM items WHERE id IN ({ids})"])

    def _written_since(self, t_ns: int) -> tuple[int, int]:
        """Raster files and STAC documents this batch wrote."""
        def newer(root: Path, pattern: str) -> int:
            return sum(
                1 for p in root.rglob(pattern) if p.stat().st_mtime_ns >= t_ns
            )

        rasters = newer(self.out / "cogs", "*.tif") + newer(self.out / "netcdf", "*.nc")
        return rasters, newer(self.stac_dir, "*.json")

    def check_batch(self, index: int, appended: dict, upserted: dict) -> None:
        cfg = self.cfg
        n_items_total = self.files_per_batch * (index + 1)
        new_items = []
        for c in range(cfg["collections"]):
            for t in self.batch_dates(index):
                item = item_id(t)
                new_items.append(self.stac_dir / f"coll{c:02d}" / item / f"{item}.json")
        present = sum(p.is_file() for p in new_items)
        check(
            present == self.files_per_batch,
            f"batch {index}: {present} items for {self.files_per_batch} files",
        )
        tree_items = list(self.stac_dir.glob("*/*/*.json"))
        check(
            len(tree_items) == n_items_total,
            f"batch {index}: tree holds {len(tree_items)} items, expected {n_items_total}",
        )
        for kind, pattern, per_item in (
            ("cogs", "*.tif", cfg["leads"]), ("netcdf", "*.nc", 1)
        ):
            found = sum(
                len(list((self.out / kind / f"coll{c:02d}" / str(t.date())).glob(pattern)))
                for c in range(cfg["collections"])
                for t in self.batch_dates(index)
            )
            want = self.files_per_batch * per_item
            check(found == want, f"batch {index}: {found} {kind} files, expected {want}")
        check(
            appended["items"] == self.files_per_batch
            and appended["collections"] == (cfg["collections"] if index == 0 else 0),
            f"batch {index}: append ingest wrote {appended}",
        )
        check(
            upserted == {"collections": cfg["collections"], "items": n_items_total},
            f"batch {index}: re-upsert wrote {upserted}",
        )
        derby = self._derby(
            ["SELECT COUNT(*) FROM collections", "SELECT COUNT(*) FROM items"]
        )
        check(
            derby == [cfg["collections"], n_items_total],
            f"batch {index}: derby holds {derby}",
        )
        con = sqlite3.connect(self.sqlite)
        try:
            lite = [
                con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
                for t in ("collections", "items")
            ]
        finally:
            con.close()
        check(
            lite == [cfg["collections"], n_items_total],
            f"batch {index}: sqlite holds {lite}",
        )
        self.digests[f"batch{index:03d}"] = item_digest(tree_items, str(self.out))
        compare_digests(
            self.work / "digests.json",
            f"{self.name}/{self.shape}/seed{self.seed}",
            self.digests,
        )

    def singles(self) -> dict:
        out = super().singles()
        c = self.counts
        out.update(
            {
                "sinks.raster.files_written": (c["files"], "count"),
                "sinks.stac_json.docs_written": (c["docs"], "count"),
                "sinks.jdbc_upsert.rows_written": (c["rows"], "count"),
                "sinks.jdbc_upsert.round_trips": (
                    self.round_trips.value if self.round_trips else 0, "count"
                ),
                "sinks.jdbc_upsert.skip_ratio": (
                    c["skipped"] / c["offered"] if c["offered"] else 0.0, "ratio"
                ),
            }
        )
        return out

    def context(self) -> dict:
        return {"workload_size": self.cfg, "item_digests": self.digests}


def unsynced_factory(factory):
    """DB-API connection factory whose sqlite connections commit without
    fsync, as Derby does here: the shared disk's flush latency would
    otherwise set the store phase's run-to-run spread."""

    def open_unsynced(dsn):
        con = factory(dsn)
        con.execute("PRAGMA synchronous = OFF")
        return con

    return open_unsynced


def item_id(init: pd.Timestamp) -> str:
    return f"forecast_init_{init.strftime('%Y-%m-%dT%H-%M-%SZ')}"


def counting_factory(counter, factory):
    """DB-API connection factory that counts the connections it opens
    (an accumulator, so executor-side opens are counted too)."""

    def open_counted(dsn):
        counter.add(1)
        return factory(dsn)

    return open_counted


def item_digest(paths: list[Path], out_prefix: str) -> str:
    """Order-insensitive digest of the item documents, with the output
    directory masked so the digest does not depend on the checkout."""
    parts = sorted(
        hashlib.sha256(
            json.dumps(json.loads(p.read_text()), sort_keys=True)
            .replace(out_prefix, "<out>")
            .encode()
        ).hexdigest()
        for p in paths
    )
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def compare_digests(store: Path, key: str, digests: dict[str, str]) -> None:
    """The same seed must give the same outputs in every run made in
    this checkout; the first run records them."""
    known = json.loads(store.read_text()) if store.exists() else {}
    mine = known.setdefault(key, {})
    for name, value in digests.items():
        check(
            mine.setdefault(name, value) == value,
            f"{key} {name}: item digest {value[:12]} differs from an earlier "
            f"run's {mine[name][:12]}",
        )
    tmp = store.with_suffix(".tmp")
    tmp.write_text(json.dumps(known, indent=1, sort_keys=True))
    os.replace(tmp, store)


# ---------------------------------------------------------------------------
# corpus_curate

CURATE_SIZES = {
    # corpus scale factor (make_testdata --sf) and the fluency cut; the
    # bigram LM is fitted on the corpus itself, so a tiny corpus scores
    # every document higher
    "default": dict(sf=0.005, perplexity_max=4.05),
    "tiny": dict(sf=0.002, perplexity_max=4.5),
}
SHARDS = 8
PROBE_DOCS = 200


def make_testdata_module():
    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "make_testdata", root / "tools" / "make_testdata.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def make_probes(seed: int, vocab: list[str], n: int) -> pd.DataFrame:
    """Eval documents to decontaminate against, from an independent
    seed. Nine tokens in ten come from a vocabulary the corpus does not
    use, so only the rare all-corpus word 3-grams can match: the stage
    removes some documents and keeps most."""
    rng = np.random.default_rng([seed, 0x5EED])
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))
    own = ["".join(rng.choice(letters, 6)) for _ in range(400)]
    texts = []
    for _ in range(n):
        n_tok = int(rng.integers(10, 60))
        mix = rng.random(n_tok) < 0.1
        toks = [
            str(rng.choice(vocab)) if m else str(rng.choice(own)) for m in mix
        ]
        texts.append(" ".join(toks))
    return pd.DataFrame(
        {"doc_id": np.arange(10**9, 10**9 + n, dtype="int64"), "text": texts}
    )


class CorpusCurate(Workload):
    name = "corpus_curate"
    # the export takes about 0.5 s, so it needs more repeats
    store_repeats = 5
    min_steps = 2

    def prepare(self) -> None:
        from environmental_stac_generator_spark.plans.curation_pipeline import (
            CurationConfig,
        )

        size = CURATE_SIZES[self.size]
        sf = size["sf"]
        self.data = self.work / "data" / f"corpus-sf{sf}-seed{self.seed}"
        if not (self.data / "_DONE").exists():
            shutil.rmtree(self.data, ignore_errors=True)
            mtd = make_testdata_module()
            with contextlib.redirect_stdout(sys.stderr):
                mtd.make(sf, self.data, seed=self.seed)
            make_probes(self.seed, mtd.VOCAB, PROBE_DOCS).to_parquet(
                self.data / "probes.parquet", index=False
            )
            (self.data / "_DONE").write_text("")
        import pyarrow.parquet as pq

        self.n_docs = pq.read_metadata(self.data / "documents.parquet").num_rows
        self.units_per_step = self.n_docs
        self.config = CurationConfig(
            near_dup_jaccard=0.5,
            semantic_cosine=0.6,
            redact_pii=True,
            quality_min=0.55,
            perplexity_max=size["perplexity_max"],
            sample_rates={"src0": 50, "src1": 50, "src2": 50},
            token_budget=self.n_docs * 5,
            seq_len=2048,
        )
        self.stats: dict[str, int] | None = None
        self.out = self.run_dir / "selected"
        self.shards = self.run_dir / "selected_shards"

    def step(self, index: int) -> tuple[float, float]:
        from environmental_stac_generator_spark.operators.lineage import (
            release_tracked,
        )
        from environmental_stac_generator_spark.plans.curation_pipeline import curate
        from environmental_stac_generator_spark.sinks.shards import write_training_shards
        from environmental_stac_generator_spark.tables import load

        with self.facade():
            docs = load(self.spark, str(self.data), "documents").select(
                "doc_id", "text", "source"
            )
            emb = load(self.spark, str(self.data), "embeddings").select(
                F.col("vec_id").alias("doc_id"), "embedding"
            )
            probes = self.spark.read.parquet(str(self.data / "probes.parquet"))
            t0 = time.perf_counter()
            res = curate(docs, probes=probes, config=self.config, embeddings=emb)
            t1 = time.perf_counter()
            stores = []
            for _ in range(self.store_runs(index)):
                t2 = time.perf_counter()
                res.selected.write.mode("overwrite").parquet(str(self.out))
                write_training_shards(
                    res.selected, str(self.shards), key="doc_id",
                    n_shards=SHARDS, seed=self.seed,
                )
                stores.append(time.perf_counter() - t2)
        release_tracked()
        if self.corrupt and index == 1:
            next(self.out.glob("part-*.parquet")).unlink()
        self.check_step(index, res.stats)
        return t1 - t0, stores

    def check_step(self, index: int, stats: dict[str, int]) -> None:
        import pyarrow.parquet as pq

        check(stats.get("input") == self.n_docs, f"step {index}: input {stats}")
        empty = [k for k, v in stats.items() if not v]
        check(not empty, f"step {index}: stages kept no rows: {empty}")
        if self.stats is None:
            self.stats = dict(stats)
        check(
            stats == self.stats,
            f"step {index}: survivors {stats} differ from the first step's {self.stats}",
        )
        for out, pattern in ((self.out, "part-*.parquet"), (self.shards, "*/part-*.parquet")):
            stored = sum(pq.read_metadata(p).num_rows for p in out.glob(pattern))
            check(
                stored == stats["budget"],
                f"step {index}: {out.name} holds {stored} rows, "
                f"the budget stage kept {stats['budget']}",
            )

    def singles(self) -> dict:
        out = super().singles()
        if self.stats:
            out["plans.curation_pipeline.survivor_ratio"] = (
                self.stats["budget"] / self.stats["input"], "ratio"
            )
        return out

    def context(self) -> dict:
        return {"corpus_docs": self.n_docs, "survivors": self.stats}


WORKLOADS = {
    ForecastPublish.name: ForecastPublish,
    CorpusCurate.name: CorpusCurate,
}
