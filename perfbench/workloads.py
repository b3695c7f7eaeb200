"""The three benchmark workloads.

Each workload generates its inputs (``prepare``), lists the timed operations
of one pass (``ops``) and checks a pass's outputs outside the timed window
(``check``). A check returns ``(op, message)`` for every failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import bench_extra
import __spark_entry__ as entry
import inputs
from stac_catalog_builder_spark import synth
from stac_catalog_builder_spark.operators.footprints import with_footprint
from stac_catalog_builder_spark.operators.grouping import collection_extents
from stac_catalog_builder_spark.operators.multimodal import with_encoded_bytes
from stac_catalog_builder_spark.operators.spatial_join import prepare_polygon_dim, spatial_join_pip
from stac_catalog_builder_spark.operators.tiling import with_tile
from stac_catalog_builder_spark.plans import flagship
from stac_catalog_builder_spark.sources.checkpoint import SnapshotStore
from stac_catalog_builder_spark.sources.shards import write_webdataset_shards

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected_query_mix.json")
TILE_COLS = ["image_id", "tile_id", "collection_id", "tile_x", "tile_y"]
EXTENT_KEYS = ["collection_id", "tile_id"]
# bench.py packs a 4000-row slice; each row's payload encode costs ~1.5 ms of
# one core, so a quarter of that keeps a catalog pass inside one run
SHARD_ROWS = 1000
N_COLLECTIONS = inputs.N_REGIONS


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(total bytes, file count) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n not in skip:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class Workload:
    name = ""
    min_passes = 1
    warmup_passes = 1

    def __init__(self, spark, work_dir: str, seed: int, small: bool = False):
        self.spark, self.work_dir, self.seed, self.small = spark, work_dir, seed, small
        self.dir = ""
        self.dim = None
        self.dim_prep_s = 0.0
        self.n_images = 0

    def prepare(self, d: str) -> dict:
        """Generate the inputs in ``d`` and prepare the boundary dimension
        (timed on its own for ``spatial_join.dim_prep_s``)."""
        manifest = self._generate(d)
        self.dir = d
        t0 = time.perf_counter()
        self.dim = prepare_polygon_dim(self.spark, flagship.boundary_polygons(self.spark, d))
        self.dim_prep_s = time.perf_counter() - t0
        return manifest

    def _generate(self, d: str) -> dict:
        raise NotImplementedError

    def assigned(self):
        """The lazy scan -> footprint -> PIP join plan over the image table."""
        return spatial_join_pip(with_footprint(synth.images(self.spark, self.dir)), dim=self.dim)

    def ops(self, k: int) -> list:
        raise NotImplementedError

    def warmup(self) -> tuple[int, list]:
        """Untimed passes; returns the ops run and their check failures."""
        n, fails = 0, []
        for i in range(self.warmup_passes):
            k = -10 - i
            outs = {name: fn() for name, fn in self.ops(k)}
            n += len(outs)
            fails += self.check(k, outs)
        return n, fails

    def after_op(self, k: int, name: str, out) -> None:
        """Called after each timed op, outside its timer."""

    def check(self, k: int, outs: dict) -> list:
        return []

    def summary(self, walls: list[dict]) -> dict:
        """Workload-specific end-to-end metrics, name -> (value, unit)."""
        return {}

    # -- image-layer prefixes for the traced run ---------------------------
    def prefixes(self) -> list:
        """Cumulative noop-sink prefixes of the assignment plan over this
        workload's image table: each projects what the next layer reads."""
        sp, d = self.spark, self.dir
        return [
            ("synth", lambda: noop(
                synth.images(sp, d).select("image_id", "img_key", "h1", "h2"))),
            ("footprints", lambda: noop(
                with_footprint(synth.images(sp, d)).select("image_id", "lon", "lat"))),
            ("spatial_join", lambda: noop(self.assigned().select(
                "image_id", "lon", "lat", "tile_id", "collection_id"))),
            ("tiling", lambda: noop(with_tile(self.assigned(), zoom=6).select(*TILE_COLS))),
            ("grouping.extents", lambda: noop(collection_extents(self.assigned(), EXTENT_KEYS))),
        ]


class AssignLarge(Workload):
    """A full assignment pass: scan -> footprint -> PIP join -> tile into one
    noop sink, then the collection extents into a second."""

    name = "assign_large"
    # the JIT keeps speeding passes up for the first six or so (measured
    # 3.1 -> 2.3 s over four, and still ~8% over the next six)
    warmup_passes = 4
    min_passes = 6

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_files, self.rows = (1, 4200) if self.small else (8, inputs.ROWS_PER_FILE)

    def _generate(self, d):
        m = inputs.write_image_inputs(d, self.seed, self.n_files, self.rows)
        self.n_images = m["rows"]
        return m

    def ops(self, k):
        state = {}

        def assign():
            state["assigned"] = self.assigned()
            obs = Observation(f"assign{k}")
            noop(with_tile(state["assigned"], zoom=6).select(*TILE_COLS)
                 .observe(obs, F.count(F.lit(1)).alias("n")))
            return obs.get["n"]

        def extents():
            obs = Observation(f"extents{k}")
            noop(collection_extents(state["assigned"], EXTENT_KEYS)
                 .observe(obs, F.sum("n_assets").alias("n")))
            return obs.get["n"]

        return [("assign", assign), ("extents", extents)]

    def check(self, k, outs):
        return [(op, f"{op} rows {outs.get(op)} != images {self.n_images}")
                for op in ("assign", "extents") if outs.get(op) != self.n_images]

    def summary(self, walls):
        pass_s = statistics.median(w["assign"] + w["extents"] for w in walls)
        return {"assign_images_per_s": (self.n_images / pass_s, "images/s")}


class CatalogBuild(Workload):
    """``build_catalog`` into a fresh directory, the same call again (resume),
    then WebDataset tar shards of a bounded slice."""

    name = "catalog_build"
    # A catalog build is a one-shot batch job: its users pay the JVM's JIT
    # and codegen warm-up on every run, so the measured pass is the first
    # one in a fresh JVM.
    warmup_passes = 0
    min_passes = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # four key files, one sf0.1 orders table in all: four scan splits
        self.n_files, self.rows = (1, 4200) if self.small else (4, 37_380)
        self.key_lo = 0
        self.out_bytes: int | None = None
        self.built_bytes: dict = {}
        self.layer_counts: dict = {}

    def _generate(self, d):
        m = inputs.write_image_inputs(d, self.seed, self.n_files, self.rows)
        self.n_images, self.key_lo = m["rows"], m["starts"][0]
        return m

    def _out(self, k):
        return os.path.join(self.work_dir, f"catalog_{k}")

    def _bytes(self, k) -> tuple[tuple[int, int], tuple[int, int]]:
        """(bytes, files) of the items and of the checkpoint stage. The
        stage's _snapshots.json holds a wall-clock timestamp; every other
        byte is a function of the input."""
        out = self._out(k)
        return (dir_bytes(f"{out}/items"),
                dir_bytes(f"{out}/assignments", skip=("_snapshots.json",)))

    def after_op(self, k, name, out):
        if name == "build":
            self.built_bytes[k] = self._bytes(k)

    def ops(self, k):
        for old in glob.glob(os.path.join(self.work_dir, "catalog_*")):
            shutil.rmtree(old)  # keep one pass's output on disk at a time
        out = self._out(k)
        sp, d = self.spark, self.dir

        def shards():
            src = with_encoded_bytes(
                synth.images(sp, d).where(F.col("img_key") < self.key_lo + SHARD_ROWS)
            )
            return write_webdataset_shards(
                src, f"{out}/wds", n_shards=32, meta_cols=["caption", "fmt", "w", "h"]
            ).collect()

        return [
            ("build", lambda: flagship.build_catalog(sp, d, out_dir=out)),
            ("resume", lambda: flagship.build_catalog(sp, d, out_dir=out)),
            ("shards", shards),
        ]

    def check(self, k, outs):
        out, fails = self._out(k), []
        store = SnapshotStore(out)
        to_write = outs["resume"]["tiled"].select(
            "image_id", "tile_id", "collection_id", "tile_x", "tile_y",
            F.col("collection_id").alias("part_key"),
        )
        pending = store.pending(to_write, self.spark, "assignments", "part_key").count()
        if pending:
            fails.append(("resume", f"{pending} rows pending after resume"))
        lineage = sorted(r.part_key for r in
                         store.completed_partitions(self.spark, "assignments").collect())
        if lineage != [f"coll_{i}" for i in range(N_COLLECTIONS)]:
            fails.append(("build", f"lineage partitions {lineage}"))
        (items_b, items_f), (ckpt_b, ckpt_f) = now = self._bytes(k)
        parts = len([p for p in os.listdir(f"{out}/assignments/data") if p.startswith("part_key=")])
        if now != self.built_bytes.get(k):
            fails.append(("resume", f"output (bytes, files) {now} after the resume != "
                                    f"{self.built_bytes.get(k)} after the build"))
        if self.out_bytes is None:
            self.out_bytes = items_b + ckpt_b
        elif items_b + ckpt_b != self.out_bytes:
            fails.append(("build", f"output bytes {items_b + ckpt_b} != first pass {self.out_bytes}"))
        members = sum(m["n_members"] for m in outs["shards"])
        if members != min(SHARD_ROWS, self.n_images):
            fails.append(("shards", f"{members} shard members != {SHARD_ROWS} selected rows"))
        shards_b, _ = dir_bytes(f"{out}/wds")
        self.layer_counts = {
            "catalog.items_bytes": (items_b, "B"), "catalog.items_files": (items_f, "count"),
            "checkpoint.bytes": (ckpt_b, "B"), "checkpoint.files": (ckpt_f, "count"),
            "checkpoint.partitions": (parts, "count"),
            "shards.bytes": (shards_b, "B"), "shards.members": (members, "count"),
        }
        return fails

    def summary(self, walls):
        med = {op: statistics.median(w[op] for w in walls) for op in ("build", "resume", "shards")}
        return {
            "build_s": (med["build"], "s"), "resume_s": (med["resume"], "s"),
            "shards_s": (med["shards"], "s"),
            "out_bytes_per_image": ((self.out_bytes or 0) / self.n_images, "B"),
        }


# Queries of bench.py's list that the query mix runs: the extent rollup (a
# polygon aggregate over the PIP join), the kNN cell ring (24 Spark jobs) and
# an LSH row with Python UDFs, few enough that a cold pass and three warm
# ones fit one run on 4 vCPUs.
QUERY_MIX = ["extent_rollup", "knn_cellring", "simhash_pairs"]


def result_digest(table) -> dict:
    """Row count and an order-independent content hash of an Arrow table."""
    rows = sorted(repr(tuple(r.values())) for r in table.to_pylist())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def oracle_mismatch(con, sql: str, got_pdf) -> str | None:
    """Compare a Spark result against its DuckDB oracle, order-insensitively
    (the normalisation the repo's verify recipe uses)."""
    import pandas as pd

    def norm(p):
        p = p[sorted(p.columns)].copy()
        for c in p.columns:
            if p[c].dtype == object:
                p[c] = p[c].astype(str)
        return p.sort_values(by=list(p.columns), ignore_index=True)

    want = norm(con.sql(sql).df())
    got = norm(got_pdf)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"differs from oracle: {str(e).splitlines()[0]}"
    return None


class QueryMix(Workload):
    """A closed loop with one client over bench.py query rows on a small
    fixture, in a seed-permuted order."""

    name = "query_mix"
    # the first passes after the warm-up still speed up (JIT): a median of
    # three per query
    min_passes = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        names = [q for q in bench_extra.BENCH_QUERIES if q in QUERY_MIX]
        random.Random(self.seed).shuffle(names)
        self.order = names
        self.queries = entry.queries()
        self.expected_rows: dict = {}

    def _generate(self, d):
        return inputs.write_query_fixture(d, *((1500, 200, 200) if self.small else ()))

    def ops(self, k):
        def run(q):
            obs = Observation(f"{q}{k}")
            noop(self.queries[q](self.spark, self.dir).observe(obs, F.count(F.lit(1)).alias("n")))
            return obs.get["n"]

        return [(q, lambda q=q: run(q)) for q in self.order]

    def warmup(self):
        results = {q: self.queries[q](self.spark, self.dir).toArrow() for q in self.order}
        return len(results), self.check_results(results, self.expected())

    def expected(self) -> dict | None:
        """The recorded digests; None at self-test scale (other tables)."""
        if self.small:
            return None
        with open(EXPECTED_PATH) as f:
            return json.load(f)

    def check_results(self, results: dict, expected: dict | None) -> list:
        """Digest checks against ``expected`` (skipped when None) and oracle
        checks of collected query results."""
        import duckdb

        fails = []
        con = duckdb.connect()
        for t in ("orders", "nation", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        osql = entry.oracle_sql()
        for q, table in results.items():
            dig = result_digest(table)
            self.expected_rows[q] = dig["rows"]
            if expected is not None and dig != expected.get(q):
                fails.append((q, f"digest {dig} != expected {expected.get(q)}"))
            if q in osql:
                msg = oracle_mismatch(con, osql[q], table.to_pandas())
                if msg:
                    fails.append((q, msg))
        con.close()
        return fails

    def check(self, k, outs):
        return [(q, f"{q} rows {n} != {self.expected_rows.get(q)}")
                for q, n in outs.items() if n != self.expected_rows.get(q)]

    def summary(self, walls):
        samples = sorted(v for w in walls for v in w.values())
        per_query = {q: statistics.median(w[q] for w in walls) for q in self.order}
        n = len(samples)
        # highest percentile with at least ten samples above it
        tail_rank = n - 11
        out = {
            "suite_s": (sum(per_query.values()), "s"),
            "query_p50_s": (statistics.median(samples), "s"),
        }
        if tail_rank >= 0:
            out["query_tail_s"] = (samples[tail_rank], "s")
            out["query_tail_pct"] = (100.0 * (tail_rank + 1) / n, "%")
        else:
            out["query_tail_s"] = (samples[-1], "s")
            out["query_tail_pct"] = (100.0, "%")
        out["query_samples"] = (n, "count")
        return out


WORKLOADS = {w.name: w for w in (AssignLarge, CatalogBuild, QueryMix)}
