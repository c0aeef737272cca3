"""The four benchmark workloads: staging, one pass, output checks, traced pass.

Every input is made by the engine's public generators from an id range
that the seed picks. Generation is a pure function of the id, so a pool of
generated rows is built once per checkout (`build_pool`, its own Spark
process) and each seed's input is the pool rows of that seed's id range,
sliced without Spark (`stage`). The slice is exactly what the generator
returns for that range.

A pass is one closed-loop request: the benchmark submits it, waits for its
result, then submits the next. Checks run outside the timed section.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import shutil
import time

import numpy as np

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
KEEP_STAGED = 2  # staged seeds kept per workload; older ones are deleted
SLICE_FILES = 8  # parquet files per staged slice, so scans split 4+ ways

# Sizes for a 4-core, 16 GB host. Pools are 4x the slice, so seeds pick
# overlapping but different id windows.
SIZES = {
    "full": {
        "flagship": {"images": 400_000, "pool": 1_600_000, "zones": 256},
        "pbf_lifecycle": {"zones": 16, "span": 32, "images": 2_000, "batches": 8},
        "image_dedup": {"bases": 600, "pool": 2_400},
        "tile_pyramid": {"images": 15_000, "pool": 60_000},
    },
    "tiny": {
        "flagship": {"images": 20_000, "pool": 40_000, "zones": 64},
        "pbf_lifecycle": {"zones": 4, "span": 8, "images": 200, "batches": 2},
        "image_dedup": {"bases": 60, "pool": 240},
        "tile_pyramid": {"images": 600, "pool": 2_400},
    },
}

# flagship pass checksum: cell ids summed modulo a prime so the sum fits a long
CELL_MOD = 1_000_003

# the near-dup band join: 16-bit bands, hamming <= 3 (as bench.py's leaf)
DEDUP_BANDS, DEDUP_HAMMING = 4, 3


def seed_offset(seed: int, span: int) -> int:
    """Start of the seed's id window in [0, span)."""
    return (seed * 2_654_435_761 + 12_345) % max(span, 1)


def img_id(i: int) -> str:
    return f"img_{i:012d}"


def _table_digest(tbl) -> str:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _parse_captions(captions) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) parsed in Python with the caption regex — independent of
    the engine's substring_index geotag."""
    from fs2_osm_spark.operators.multimodal import CAPTION_COORD_RE

    rx = re.compile(CAPTION_COORD_RE)
    lat, lon = [], []
    for c in captions:
        m = rx.search(c)
        lat.append(float(m.group(1)))
        lon.append(float(m.group(2)))
    return np.asarray(lon, np.float64), np.asarray(lat, np.float64)


def luma_micro(img: np.ndarray) -> int:
    """The pyramid's per-image luma in micro-units, recomputed in numpy
    with the engine's double arithmetic order."""
    m = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
    return int(np.floor((((m[0] + m[1]) + m[2]) / 3.0) * 1000000.0 + 0.5))


class Workload:
    name = ""

    def __init__(self, scale: str):
        self.scale = scale
        self.size = SIZES[scale][self.name]

    # -- staging (no metric covers it) --------------------------------------
    @property
    def pool_dir(self) -> str:
        key = "-".join(f"{k}{v}" for k, v in sorted(self.size.items()))
        return os.path.join(CACHE, "pool", f"{self.name}-{key}")

    def needs_pool(self) -> bool:
        return not os.path.exists(os.path.join(self.pool_dir, "_DONE"))

    def build_pool(self, spark) -> None:
        """Generate the pool; pools of sizes no longer in SIZES are deleted."""
        current = {type(self)(scale).pool_dir for scale in SIZES}
        root = os.path.dirname(self.pool_dir)
        for p in os.listdir(root) if os.path.isdir(root) else ():
            path = os.path.join(root, p)
            if p.startswith(self.name + "-") and path not in current:
                shutil.rmtree(path, ignore_errors=True)
        tmp = self.pool_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_pool(spark, tmp)
        shutil.rmtree(self.pool_dir, ignore_errors=True)
        os.rename(tmp, self.pool_dir)
        open(os.path.join(self.pool_dir, "_DONE"), "w").close()

    def _write_pool(self, spark, path: str) -> None:
        raise NotImplementedError

    def stage(self, seed: int) -> dict:
        """The seed's input, cached under .cache/staged; returns its
        description (paths, digest, expected values for the checks)."""
        root = os.path.join(CACHE, "staged")
        d = os.path.join(root, f"{os.path.basename(self.pool_dir)}-seed{seed}")
        meta_path = os.path.join(d, "meta.json")
        if not os.path.exists(meta_path):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            meta = self._stage(seed, d)
            with open(meta_path + ".tmp", "w") as f:
                json.dump(meta, f)
            os.rename(meta_path + ".tmp", meta_path)
        os.utime(d)
        prefix = os.path.basename(self.pool_dir) + "-seed"
        mine = sorted(
            (p for p in os.listdir(root) if p.startswith(prefix)),
            key=lambda p: os.path.getmtime(os.path.join(root, p)),
        )
        for old in mine[:-KEEP_STAGED]:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
        with open(meta_path) as f:
            meta = json.load(f)
        meta["dir"] = d
        return meta

    def _stage(self, seed: int, d: str) -> dict:
        raise NotImplementedError

    def _slice_pool(self, col: str, lo: int, hi: int, d: str, sub: str, pool_sub: str = ""):
        """Write pool rows with lo <= id < hi to SLICE_FILES parquet files."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        dataset = ds.dataset(os.path.join(self.pool_dir, pool_sub), format="parquet")
        tbl = dataset.to_table(
            filter=(pc.field(col) >= img_id(lo)) & (pc.field(col) < img_id(hi))
        ).sort_by(col)
        out = os.path.join(d, sub)
        os.makedirs(out)
        step = -(-tbl.num_rows // SLICE_FILES)
        for k in range(SLICE_FILES):
            pq.write_table(tbl.slice(k * step, step), os.path.join(out, f"part-{k:02d}.parquet"))
        return tbl

    # -- the measured process -----------------------------------------------
    def setup(self, spark, staged: dict, tmp: str) -> dict:
        """Per-session preparation; returns the pass context."""
        raise NotImplementedError

    def run_pass(self, spark, ctx: dict):
        """One timed pass; returns (items, result)."""
        raise NotImplementedError

    def finish_pass(self, spark, ctx: dict, result):
        """Right after a pass, untimed: reduce its result to what
        check_pass needs and release what the pass left behind."""
        return result

    def check_pass(self, spark, ctx: dict, result) -> bool:
        raise NotImplementedError

    def verify(self, spark, ctx: dict) -> bool:
        """Once per run, after the timed passes: the independent check."""
        return True

    def traced_pass(self, spark, ctx: dict, tr) -> tuple[int, object, dict]:
        """A pass with spans around each layer call and materialization at
        each layer boundary. Returns (items, result, counts)."""
        raise NotImplementedError

    def layer_metrics(self, tr, attr, ctx: dict, counts: dict) -> dict:
        raise NotImplementedError


@contextlib.contextmanager
def patched(module, name: str, make):
    """Replace `module.name` by `make(original)` for the with-block. The
    engine resolves these names at call time, so the wrapper sees every
    call the pass makes."""
    orig = getattr(module, name)
    setattr(module, name, make(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class _Pins:
    """DataFrames persisted by the tracer, released after the pass."""

    def __init__(self):
        self.dfs = []

    def hold(self, df):
        df = df.persist()
        self.dfs.append(df)
        return df

    def release(self):
        for df in self.dfs:
            df.unpersist()
        self.dfs.clear()


# ---------------------------------------------------------------------------
class Flagship(Workload):
    """Staged slim image parquet -> geotag -> PIP against a prepared cover ->
    hex cell + z/x/y tile -> count. All JVM; `bytes` is never read."""

    name = "flagship"
    SAMPLE = 2_000

    def _write_pool(self, spark, path):
        from fs2_osm_spark.plans.flagship import polygon_corpus_df
        from fs2_osm_spark.synth.images import IMAGES_SCHEMA, generate_batch

        def gen(batches):
            for pdf in batches:
                yield generate_batch(pdf["id"].to_numpy(np.int64), slim=True)

        n = self.size["pool"]
        spark.range(0, n, 1, 16).mapInPandas(gen, IMAGES_SCHEMA).write.parquet(
            os.path.join(path, "images")
        )
        polygon_corpus_df(spark, self.size["zones"]).write.parquet(
            os.path.join(path, "polygons")
        )

    def polygon_set(self):
        """The polygon corpus as the numpy PIP kernel's PolygonSet."""
        import pyarrow.parquet as pq

        from fs2_osm_spark.functions.pip import PolygonSet

        t = pq.read_table(os.path.join(self.pool_dir, "polygons")).to_pydict()
        return PolygonSet(
            ids=t["polygon_id"],
            outers=[np.asarray(o) for o in t["outer"]],
            inners=[[np.asarray(h) for h in (hs or [])] for hs in t["inners"]],
        )

    @staticmethod
    def cells_tiles(captions) -> tuple[np.ndarray, ...]:
        """(lon, lat, cell, tile_x, tile_y) from the numpy twins."""
        from fs2_osm_spark.functions.geo import tile_xyz_np
        from fs2_osm_spark.functions.hex import hex_cell_np
        from fs2_osm_spark.plans.flagship import HEX_RES, TILE_Z

        lon, lat = _parse_captions(captions)
        tx, ty = tile_xyz_np(lon, lat, TILE_Z)
        return (lon, lat, hex_cell_np(lon, lat, HEX_RES).astype(np.int64),
                np.asarray(tx, np.int64), np.asarray(ty, np.int64))

    def _stage(self, seed, d):
        """Slice, then the expected pass aggregate from the numpy PIP
        kernel (functions/pip.PolygonSet) and the numpy hex/tile twins."""
        n = self.size["images"]
        off = seed_offset(seed, self.size["pool"] - n)
        tbl = self._slice_pool("image_id", off, off + n, d, "images", "images")
        lon, lat, cell, tx, ty = self.cells_tiles(tbl.column("caption").to_pylist())
        idx, _ = self.polygon_set().match(lon, lat)
        expected = [int(idx.size), int((cell[idx] % CELL_MOD).sum()),
                    int(tx[idx].sum()), int(ty[idx].sum())]
        return {"digest": _table_digest(tbl), "expected": expected}

    def setup(self, spark, staged, tmp):
        from fs2_osm_spark.plans.flagship import prepare_corpus

        images = spark.read.parquet(os.path.join(staged["dir"], "images"))
        n = images.count()
        polygons = spark.read.parquet(os.path.join(self.pool_dir, "polygons"))
        t0 = time.time()
        corpus = prepare_corpus(spark, polygons)
        return {"images": images, "n": n, "corpus": corpus,
                "cover_build_s": time.time() - t0, "staged": staged}

    @staticmethod
    def _consume(df):
        """(rows, sum of cell mod CELL_MOD, sum tile_x, sum tile_y). A bare
        count() would let Catalyst prune the hex/tile projections, so the
        pass aggregates every output column."""
        from pyspark.sql import functions as F

        r = df.agg(
            F.count(F.lit(1)), F.sum(F.col("cell") % CELL_MOD),
            F.sum("tile_x"), F.sum("tile_y"),
        ).first()
        return tuple(int(v or 0) for v in r)

    def run_pass(self, spark, ctx):
        from fs2_osm_spark.plans.flagship import flagship_from_tables

        return ctx["n"], self._consume(flagship_from_tables(ctx["images"], ctx["corpus"]))

    def check_pass(self, spark, ctx, result):
        return list(result) == ctx["staged"]["expected"]

    def verify(self, spark, ctx):
        """On a fixed sample of the slice, the flagship rows equal the
        matches of PolygonSet.match (the numpy kernel that the Arrow
        broadcast_pip_join runs per batch), with cell and tile from the
        numpy twins. Run in the driver, so this all-JVM workload starts
        no Python workers."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from fs2_osm_spark.plans.flagship import flagship_from_tables

        # the slice is sorted by id, so its first file holds the sample
        tbl = pq.read_table(os.path.join(ctx["staged"]["dir"], "images", "part-00.parquet"),
                            columns=["image_id", "caption"]).slice(0, self.SAMPLE)
        ids = tbl.column("image_id").to_pylist()
        lon, lat, cell, tx, ty = self.cells_tiles(tbl.column("caption").to_pylist())
        idx, poly = self.polygon_set().match(lon, lat)
        want = sorted(
            (ids[k], int(p), int(cell[k]), int(tx[k]), int(ty[k]))
            for k, p in zip(idx.tolist(), poly.tolist())
        )
        sample = ctx["images"].where(F.col("image_id") <= ids[-1])
        got = sorted(tuple(r) for r in flagship_from_tables(sample, ctx["corpus"]).collect())
        return len(want) > 0 and got == want

    def traced_pass(self, spark, ctx, tr):
        import fs2_osm_spark.operators.spatial_join as sj
        import fs2_osm_spark.plans.flagship as fl
        from pyspark.sql import functions as F

        from fs2_osm_spark.functions.hex import hex_cell

        pins, counts = _Pins(), {}

        def wrap_geotag(orig):
            def geotag(images):
                with tr.span("geotag"):
                    out = pins.hold(orig(images))
                    r = out.agg(F.count(F.lit(1)), F.count("lon")).first()
                counts["geotag.rows"], counts["geotag.tagged"] = r[0], r[1]
                return out
            return geotag

        def wrap_pip(orig):
            def apply_cell_pip(points, cover, lon_col, lat_col, keep):
                with tr.span("spatial_join"):
                    out = pins.hold(orig(points, cover, lon_col, lat_col, keep))
                    counts["spatial_join.rows"] = out.count()
                # join-size counts, outside the span: candidates are the
                # point/cover-cell matches, refined the boundary-cell ones
                cand = points.withColumn(
                    "cell", hex_cell(F.col(lon_col), F.col(lat_col), cover.res)
                ).join(cover.cover, "cell")
                r = cand.agg(F.count(F.lit(1)), F.sum((~F.col("interior")).cast("long"))).first()
                counts["spatial_join.candidates"], counts["spatial_join.refined"] = r[0], r[1] or 0
                return out
            return apply_cell_pip

        try:
            with patched(fl, "geotag", wrap_geotag), patched(sj, "apply_cell_pip", wrap_pip):
                with tr.span("pass"):
                    df = fl.flagship_from_tables(ctx["images"], ctx["corpus"])
                    with tr.span("index"):
                        result = self._consume(df)
            counts["spatial_join.cover_cells"] = ctx["corpus"].cover.count()
        finally:
            pins.release()
        return ctx["n"], result, counts

    def layer_metrics(self, tr, attr, ctx, counts):
        g, s, i = tr.by_name("geotag"), tr.by_name("spatial_join"), tr.by_name("index")
        cand = counts["spatial_join.candidates"]
        return {
            "geotag.wall_s": g.wall,
            "geotag.rows": counts["geotag.rows"],
            "geotag.tagged_ratio": counts["geotag.tagged"] / max(counts["geotag.rows"], 1),
            "spatial_join.cover_build_s": ctx["cover_build_s"],
            "spatial_join.cover_cells": counts["spatial_join.cover_cells"],
            "spatial_join.wall_s": s.wall,
            "spatial_join.candidates": cand,
            "spatial_join.refined": counts["spatial_join.refined"],
            "spatial_join.hit_ratio": counts["spatial_join.rows"] / max(cand, 1),
            "spatial_join.task_skew": attr.task_skew(s),
            "index.wall_s": i.wall,
        }


# ---------------------------------------------------------------------------
class PbfLifecycle(Workload):
    """run_pbf_pipeline over framed .osm.pbf (written in setup) into a fresh
    output directory, deleted after the pass."""

    name = "pbf_lifecycle"
    FILES = 4

    def needs_pool(self):
        return False

    def zones(self, seed: int) -> np.ndarray:
        """Zone k sits in the k-th grid cell nearest a hot city, so windows
        that start below `span` keep the images' PIP join non-empty."""
        z = self.size["zones"]
        off = seed_offset(seed, self.size["span"])
        return np.arange(off, off + z, dtype=np.int64)

    def _stage(self, seed, d):
        from fs2_osm_spark.sources.pbf_writer import encode_zone_blocks
        from fs2_osm_spark.synth.osm import _gen_zone_tables

        zones = self.zones(seed)
        h = hashlib.sha256()
        for block in encode_zone_blocks(zones):
            h.update(block)
        t = _gen_zone_tables(zones)
        rw = t["relations_ways"].drop_duplicates(["relation_id", "way_id", "role"])
        return {
            "zones": [int(zones[0]), int(zones[-1]) + 1],
            "digest": h.hexdigest(),
            "expected": {
                "nodes": len(t["nodes"]),
                "ways": len(t["ways"]),
                "relations": len(t["relations"]),
                "ways_nodes": int(sum(len(n) for n in t["ways"]["nodes"])),
                "relations_ways": len(rw),
            },
        }

    def setup(self, spark, staged, tmp):
        from fs2_osm_spark.sources.pbf_frames import write_frames
        from fs2_osm_spark.sources.pbf_writer import encode_zone_blocks

        frames = os.path.join(tmp, "frames")
        shutil.rmtree(frames, ignore_errors=True)
        os.makedirs(frames)
        lo, hi = staged["zones"]
        for k, chunk in enumerate(np.array_split(np.arange(lo, hi, dtype=np.int64), self.FILES)):
            write_frames(os.path.join(frames, f"part-{k:05d}.osm.pbf"), encode_zone_blocks(chunk))
        return {"frames": frames, "tmp": tmp, "staged": staged, "k": 0}

    def _out(self, ctx) -> str:
        ctx["k"] += 1
        return os.path.join(ctx["tmp"], f"pbf-out-{ctx['k']}")

    def run_pass(self, spark, ctx):
        from fs2_osm_spark.plans.pbf_pipeline import run_pbf_pipeline

        out = self._out(ctx)
        res = run_pbf_pipeline(
            spark, ctx["frames"], out,
            n_images=self.size["images"], n_batches=self.size["batches"],
        )
        s = res["summary"]
        return s["nodes"] + s["ways"] + s["relations"], (out, res)

    def finish_pass(self, spark, ctx, result):
        from fs2_osm_spark.plans.lineage import LineageLog

        out, res = result
        try:
            done = LineageLog(spark, os.path.join(out, "flagship")).completed()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return res["summary"], res["batches"], len(done)

    def check_pass(self, spark, ctx, result):
        summary, batches, done = result
        exp = ctx["staged"]["expected"]
        return all(summary.get(k) == v for k, v in exp.items()) and 0 < batches == done

    def traced_pass(self, spark, ctx, tr):
        import fs2_osm_spark.operators.assembly as asm
        import fs2_osm_spark.plans.export as exp
        import fs2_osm_spark.plans.lineage as lin
        import fs2_osm_spark.plans.pbf_pipeline as pp

        pins, counts = _Pins(), {}

        def wrap_frames(orig):
            def frame_tables(spark_, pbf_dir, share_relations=False):
                with tr.span("sources"):
                    t = orig(spark_, pbf_dir, share_relations)
                    n = 0
                    for k in ("nodes", "ways"):
                        t[k] = pins.hold(t[k])
                        n += t[k].count()
                    n += (t["_rels_raw"] if t["_rels_raw"] is not None else t["relations"]).count()
                counts["sources.entities"] = n
                return t
            return frame_tables

        def wrap_export(orig):
            def run_export(*a, **kw):
                with tr.span("export"):
                    summary = orig(*a, **kw)
                root = a[5] if len(a) > 5 else kw["output_root"]
                files = [os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs]
                data = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
                counts["export.rows_written"] = sum(summary.values())
                counts["export.files_written"] = len(data)
                counts["export.bytes_written"] = sum(os.path.getsize(f) for f in data)
                return summary
            return run_export

        def wrap_polygons(orig):
            def feature_polygons(*a, **kw):
                with tr.span("assembly"):
                    out = pins.hold(orig(*a, **kw))
                    counts["assembly.polygons"] = out.count()
                return out
            return feature_polygons

        def wrap_batched(orig):
            def run_batched(spark_, source, *a, **kw):
                # the batched flagship join is computed by the first action
                # on its cached source; run it first so the lineage span
                # holds only the batch writes and lineage rows
                with tr.span("flagship_join"):
                    source.count()
                with tr.span("lineage"):
                    n = orig(spark_, source, *a, **kw)
                counts["lineage.batches"] = n
                return n
            return run_batched

        try:
            with patched(pp, "frame_tables", wrap_frames), \
                    patched(exp, "run_export", wrap_export), \
                    patched(asm, "feature_polygons", wrap_polygons), \
                    patched(lin, "run_batched", wrap_batched):
                with tr.span("pass"):
                    items, result = self.run_pass(spark, ctx)
        finally:
            pins.release()
        return items, result, counts

    def layer_metrics(self, tr, attr, ctx, counts):
        src, ex, asm_, lin = (tr.by_name(n) for n in ("sources", "export", "assembly", "lineage"))
        return {
            "sources.wall_s": src.wall,
            "sources.entities": counts["sources.entities"],
            "sources.py_worker_s": attr.py_worker_s(src),
            "sources.py_bytes": attr.py_bytes(src),
            "export.wall_s": ex.wall,
            "export.jobs": attr.jobs(ex, inclusive=True),
            "export.rows_written": counts["export.rows_written"],
            "export.bytes_written": counts["export.bytes_written"],
            "export.files_written": counts["export.files_written"],
            "export.driver_gap_s": attr.driver_gap_s(ex),
            "assembly.wall_s": asm_.wall,
            "assembly.polygons": counts["assembly.polygons"],
            "assembly.py_worker_s": attr.py_worker_s(asm_),
            "assembly.shuffle_bytes": attr.shuffle_bytes(asm_),
            "lineage.wall_s": lin.wall,
            "lineage.batches": counts["lineage.batches"],
            "lineage.jobs": attr.jobs(lin, inclusive=True),
            "lineage.driver_gap_s": attr.driver_gap_s(lin),
        }


# ---------------------------------------------------------------------------
def _codec_sample_us(tbl, fmts: tuple[str, ...], n: int = 200, reps: int = 5) -> float:
    """Median over `reps` of the per-image driver-side decode_image time on
    the first `n` staged payloads of the given formats (no Spark)."""
    from fs2_osm_spark.codecs.png import decode_image

    pay = [
        (bytes(b), f)
        for b, f in zip(tbl.column("bytes").to_pylist(), tbl.column("fmt").to_pylist())
        if f in fmts
    ][:n]
    if not pay:
        return 0.0
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for b, f in pay:
            decode_image(b, f)
        times.append((time.perf_counter() - t0) / len(pay) * 1e6)
    return float(np.median(times))


def _codec_metrics(staged: dict) -> dict:
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(staged["dir"], "images", "part-00.parquet"),
                        columns=["bytes", "fmt"])
    return {
        "codecs.png_us_per_image": _codec_sample_us(tbl, ("png",)),
        "codecs.dct_us_per_image": _codec_sample_us(tbl, ("jpeg", "jq01", "lq01")),
    }


class ImageDedup(Workload):
    """Staged near-dup corpus -> phash_frame -> phash_band_pairs ->
    connected_components -> count."""

    name = "image_dedup"

    def _write_pool(self, spark, path):
        from fs2_osm_spark.synth.images import neardup_batch

        def gen(batches):
            for pdf in batches:
                yield neardup_batch(pdf["id"].to_numpy(np.int64))

        schema = ("img_id string, src_id string, variant string, bytes binary,"
                  " fmt string, phash long")
        spark.range(0, self.size["pool"], 1, 16).mapInPandas(gen, schema).write.parquet(path)

    def _stage(self, seed, d):
        b = self.size["bases"]
        off = seed_offset(seed, self.size["pool"] - b)
        tbl = self._slice_pool("src_id", off, off + b, d, "images")
        return {"digest": _table_digest(tbl), "bases": b, "id_range": [off, off + b]}

    def setup(self, spark, staged, tmp):
        images = spark.read.parquet(os.path.join(staged["dir"], "images"))
        return {"images": images, "n": images.count(), "staged": staged}

    def _pairs(self, hashed):
        from fs2_osm_spark.operators.multimodal import phash_band_pairs

        return phash_band_pairs(hashed, n_bands=DEDUP_BANDS, hamming_t=DEDUP_HAMMING)

    def run_pass(self, spark, ctx):
        from fs2_osm_spark.operators.dedup import connected_components, release_pins
        from fs2_osm_spark.operators.multimodal import phash_frame

        try:
            n = connected_components(self._pairs(phash_frame(ctx["images"]))).count()
        finally:
            release_pins()
        return ctx["n"], n

    def check_pass(self, spark, ctx, result):
        # 4 of the 5 variants of every base are within the threshold of the
        # original; the 4-cell flip is 4 bits away and stays out
        return result == 4 * ctx["staged"]["bases"]

    def verify(self, spark, ctx):
        """Every component is exactly {o, re, jq, br} of one src_id; no
        flip variant is in any component (each is a singleton)."""
        from fs2_osm_spark.operators.dedup import connected_components, release_pins
        from fs2_osm_spark.operators.multimodal import phash_frame

        try:
            rows = connected_components(self._pairs(phash_frame(ctx["images"]))).collect()
        finally:
            release_pins()
        comps: dict = {}
        for r in rows:
            comps.setdefault(r.cluster, set()).add(r.id)
        lo, hi = ctx["staged"]["id_range"]
        want = {frozenset(f"{img_id(i)}~{v}" for v in ("o", "re", "jq", "br"))
                for i in range(lo, hi)}
        return {frozenset(c) for c in comps.values()} == want

    def traced_pass(self, spark, ctx, tr):
        from fs2_osm_spark.operators.dedup import connected_components, release_pins
        from fs2_osm_spark.operators.multimodal import band_cols, phash_frame
        from pyspark.sql import functions as F

        pins, counts = _Pins(), {}
        try:
            with tr.span("pass"):
                with tr.span("decode"):
                    hashed = pins.hold(phash_frame(ctx["images"]))
                    counts["decode.images"] = hashed.count()
                with tr.span("band_join"):
                    pairs = pins.hold(self._pairs(hashed))
                    counts["band_join.pairs"] = pairs.count()
                with tr.span("cc"):
                    labels = pins.hold(connected_components(pairs))
                    n = labels.count()
                counts["cc.components"] = labels.select("cluster").distinct().count()
            # band-join candidates: distinct id pairs sharing any band value
            bands = hashed.select(
                "img_id", F.posexplode(F.array(*band_cols("phash", DEDUP_BANDS))).alias("k", "v")
            )
            a, b = bands.alias("a"), bands.alias("b")
            counts["band_join.candidates"] = a.join(
                b, (F.col("a.k") == F.col("b.k")) & (F.col("a.v") == F.col("b.v"))
                & (F.col("a.img_id") < F.col("b.img_id"))
            ).select("a.img_id", "b.img_id").distinct().count()
        finally:
            pins.release()
            release_pins()
        return ctx["n"], n, counts

    def layer_metrics(self, tr, attr, ctx, counts):
        d, bj, cc = tr.by_name("decode"), tr.by_name("band_join"), tr.by_name("cc")
        return {
            **_codec_metrics(ctx["staged"]),
            "decode.wall_s": d.wall,
            "decode.images": counts["decode.images"],
            "decode.py_worker_s": attr.py_worker_s(d),
            "decode.py_bytes": attr.py_bytes(d),
            "band_join.wall_s": bj.wall,
            "band_join.candidates": counts["band_join.candidates"],
            "band_join.pairs": counts["band_join.pairs"],
            "band_join.precision": counts["band_join.pairs"] / max(counts["band_join.candidates"], 1),
            "band_join.shuffle_bytes": attr.shuffle_bytes(bj),
            "cc.wall_s": cc.wall,
            "cc.jobs": attr.jobs(cc, inclusive=True),
            "cc.components": counts["cc.components"],
            "cc.shuffle_bytes": attr.shuffle_bytes(cc),
            "cc.spill_bytes": attr.spill_bytes(cc),
        }


# ---------------------------------------------------------------------------
class TilePyramid(Workload):
    """Staged full-payload image parquet -> pyramid_rollup -> count."""

    name = "tile_pyramid"
    SAMPLE_TILES = 8

    def _write_pool(self, spark, path):
        from fs2_osm_spark.synth.images import IMAGES_SCHEMA, generate_batch

        def gen(batches):
            for pdf in batches:
                yield generate_batch(pdf["id"].to_numpy(np.int64))

        spark.range(0, self.size["pool"], 1, 16).mapInPandas(gen, IMAGES_SCHEMA).write.parquet(path)

    def _stage(self, seed, d):
        """Slice, then the expected tile count and, for a sample of z12
        tiles, n_images and sum_luma_micro from decode_image + tile_xyz_np."""
        from fs2_osm_spark.codecs.png import decode_image
        from fs2_osm_spark.functions.geo import tile_xyz_np
        from fs2_osm_spark.queries.multimodal2 import PYRAMID_ZOOMS

        n = self.size["images"]
        off = seed_offset(seed, self.size["pool"] - n)
        tbl = self._slice_pool("image_id", off, off + n, d, "images")
        lon, lat = _parse_captions(tbl.column("caption").to_pylist())
        x12, y12 = (np.asarray(a, np.int64) for a in tile_xyz_np(lon, lat, 12))
        n_tiles = sum(
            len(set(zip((x12 >> (12 - z)).tolist(), (y12 >> (12 - z)).tolist())))
            for z in PYRAMID_ZOOMS
        )
        picks = list(dict.fromkeys(zip(x12.tolist(), y12.tolist())))[: self.SAMPLE_TILES]
        payloads = tbl.column("bytes").to_pylist()
        fmts = tbl.column("fmt").to_pylist()
        sample = []
        for tx, ty in picks:
            idx = np.nonzero((x12 == tx) & (y12 == ty))[0]
            s = sum(luma_micro(decode_image(payloads[k], fmts[k])) for k in idx.tolist())
            sample.append([tx, ty, int(idx.size), s])
        return {"digest": _table_digest(tbl), "tiles": n_tiles, "sample": sample}

    def setup(self, spark, staged, tmp):
        images = spark.read.parquet(os.path.join(staged["dir"], "images"))
        return {"images": images, "n": images.count(), "staged": staged}

    def run_pass(self, spark, ctx):
        from fs2_osm_spark.queries.multimodal2 import pyramid_rollup

        return ctx["n"], pyramid_rollup(ctx["images"]).count()

    def check_pass(self, spark, ctx, result):
        return result == ctx["staged"]["tiles"]

    def verify(self, spark, ctx):
        from pyspark.sql import functions as F

        from fs2_osm_spark.queries.multimodal2 import pyramid_rollup

        rows = pyramid_rollup(ctx["images"]).where(F.col("z") == 12).collect()
        got = {(r.x, r.y): [r.n_images, r.sum_luma_micro] for r in rows}
        return all(got.get((tx, ty)) == [n, s] for tx, ty, n, s in ctx["staged"]["sample"])

    def traced_pass(self, spark, ctx, tr):
        import fs2_osm_spark.operators.multimodal as mm
        from fs2_osm_spark.queries.multimodal2 import pyramid_rollup

        pins, counts = _Pins(), {}

        def wrap_decode(orig):
            def decode_channel_means(images, carry=()):
                with tr.span("decode"):
                    out = pins.hold(orig(images, carry))
                    counts["decode.images"] = out.count()
                return out
            return decode_channel_means

        try:
            with patched(mm, "decode_channel_means", wrap_decode):
                with tr.span("pass"):
                    with tr.span("pyramid"):
                        tiles = pyramid_rollup(ctx["images"]).count()
        finally:
            pins.release()
        counts["pyramid.tiles"] = tiles
        return ctx["n"], tiles, counts

    def layer_metrics(self, tr, attr, ctx, counts):
        d, p = tr.by_name("decode"), tr.by_name("pyramid")
        return {
            **_codec_metrics(ctx["staged"]),
            "decode.wall_s": d.wall,
            "decode.images": counts["decode.images"],
            "decode.py_worker_s": attr.py_worker_s(d),
            "decode.py_bytes": attr.py_bytes(d),
            "pyramid.agg_wall_s": tr.self_time(p),
            "pyramid.tiles": counts["pyramid.tiles"],
            "pyramid.shuffle_bytes": attr.shuffle_bytes(p, inclusive=False),
        }


WORKLOADS = {w.name: w for w in (Flagship, PbfLifecycle, ImageDedup, TilePyramid)}
