"""The benchmark's workloads: seeded inputs, timed operations, checks.

Each workload generates its inputs with the engine's datagen generators
(55% of points in 5 hot clusters, 1% near the date line) from the run's
seed, writes them under the run's own directory, and exposes a fixed,
seed-determined list of passes.  A pass is one round of the workload's
operation mix; every operation is one call into an engine layer's public
function followed by forcing its result with ``toArrow()``.  Results are
checked after the timed region against DuckDB or against the engine's own
brute-force reference.

Workloads are closed loops with one client thread.
"""

from __future__ import annotations

import datetime as dt
import math
import statistics
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass
class Op:
    key: str  # identifies the result: equal keys must give equal results
    layer: str
    fn: Callable[[Any], Any]  # tracer -> the forced result (or output path), for check


def _write_parts(table: pa.Table, out: Path, parts: int) -> str:
    """Write ``table`` as ``parts`` parquet files so Spark scans it with
    ``parts`` tasks; returns the directory."""
    out.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:03d}.parquet")
    return str(out)


def _rows(tbl: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return sorted(zip(*cols))


def _canon(tbl: pa.Table) -> pa.Table:
    """``tbl`` sorted by every column: equal canonical tables hold the same
    multiset of rows."""
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names]).combine_chunks()


def _force(df) -> pa.Table:
    return df.toArrow()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def _halfplanes(ring: np.ndarray) -> list[tuple[float, float, float]]:
    """(a, b, c) with a*x + b*y <= c inside, for a CCW ring (datagen's form)."""
    out = []
    for j in range(len(ring) - 1):
        p1x, p1y = ring[j]
        p2x, p2y = ring[j + 1]
        a = p2y - p1y
        b = -(p2x - p1x)
        out.append((a, b, a * p1x + b * p1y))
    return out


class Workload:
    name = ""

    def __init__(self, seed: int, root: Path, cores: int):
        self.seed = seed
        self.root = root
        self.cores = cores
        # (group, rows, seconds) per ingest call; a group is a pass or a set-up
        self.ingests: list[tuple[Any, int, float]] = []
        self._expected: dict[str, Any] = {}
        self._expected_tbl: dict[str, pa.Table] = {}
        self._con = None

    # --- life cycle -------------------------------------------------------
    def generate(self) -> None:
        """Seeded inputs -> parquet under ``root/in`` (no Spark)."""
        raise NotImplementedError

    def prepare(self, spark, tr) -> None:
        """Session-bound set-up: read inputs, ingest, warm the workers."""
        raise NotImplementedError

    def passes(self, i: int) -> list[Op]:
        raise NotImplementedError

    def warm_up(self, tr) -> None:
        """Run once after the set-ups, untimed, before the measured passes."""

    def isolate(self, spark, tr, results: dict[str, Any]) -> None:
        """Traced runs only: force single layers on their own."""

    # --- metrics ----------------------------------------------------------
    def pass_time(self, passes: list[list[tuple[str, float]]]) -> float:
        """Time of one pass from the timed passes' (key, seconds) lists: the
        sum over the pass's positions of the median time at that position."""
        return sum(statistics.median(col) for col in zip(*[[d for _, d in p] for p in passes]))

    def ingest_rate(self) -> float:
        """Median over groups of the group's rows over its ingest seconds."""
        groups: dict[Any, list[float]] = {}
        for g, rows, secs in self.ingests:
            acc = groups.setdefault(g, [0.0, 0.0])
            acc[0] += rows
            acc[1] += secs
        return statistics.median(r / t for r, t in groups.values())

    # --- checks -----------------------------------------------------------
    def expected(self, key: str) -> Any:
        if key not in self._expected:
            self._expected[key] = self._compute_expected(key)
        return self._expected[key]

    def _compute_expected(self, key: str) -> Any:
        raise NotImplementedError

    def check(self, key: str, payload: Any) -> bool:
        """The payload holds the expected rows: a list of tuples or an Arrow
        table, compared as multisets in the payload's schema."""
        if key not in self._expected_tbl:
            names = payload.column_names
            exp = self.expected(key)
            if isinstance(exp, pa.Table):
                exp = exp.select(names).cast(payload.schema)
            else:
                exp = pa.Table.from_pylist([dict(zip(names, r)) for r in exp], schema=payload.schema)
            self._expected_tbl[key] = _canon(exp)
        return _canon(payload).equals(self._expected_tbl[key])

    def _duck(self):
        import duckdb

        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute(f"SET threads TO {self.cores}")
            self._con.execute("SET memory_limit = '1GB'")
            self._con.execute(f"SET temp_directory = '{self.root.parent / 'tmp'}'")
            self._con.execute("SET TimeZone = 'UTC'")
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

JOIN_POINTS = 50_000
JOIN_ZONES = 96  # two thirds are convex; the joins use the convex ones
KNN_K = 8
KNN_DIST = 2.0
INGEST_DOCS = 5_000
INGEST_TRACKS = 3_000
KDE_POINTS = 12_000
KDE_LEVELS = (4, 7)
KDE_TILE = 4
COVERAGES = 12


def _zone_bbox(zones: pa.Table) -> pa.Table:
    """Vertex bounding box of each convex zone (the oracle's prefilter)."""
    ids, bb = [], []
    cols = (zones.column(c).to_pylist() for c in ("zone_id", "geom_wkt", "zclass"))
    for zid, wkt, cls in zip(*cols):
        if cls != "convex":
            continue
        xy = np.array(
            [p.split(" ") for p in wkt[len("POLYGON ((") : -2].split(", ")], dtype=np.float64
        )
        ids.append(zid)
        bb.append((xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max()))
    a = np.array(bb)
    return pa.table(
        {"zone_id": ids, "minx": a[:, 0], "miny": a[:, 1], "maxx": a[:, 2], "maxy": a[:, 3]}
    )


def _knn_brute(pts: pa.Table, k: int, dist: float) -> list[tuple]:
    """Exact kNN by brute force in numpy with the engine's contract: the
    queries are the points whose fid ends in '00'; neighbours within
    ``dist`` degrees (squared distance dx*dx + dy*dy, as the engine computes
    it), ranked by (distance, fid) -> sorted (qid, fid, rank)."""
    fid = np.array(pts.column("fid").to_pylist())
    lon = pts.column("lon").to_numpy()
    lat = pts.column("lat").to_numpy()
    order = np.argsort(fid, kind="stable")  # fid order breaks distance ties
    fid, lon, lat = fid[order], lon[order], lat[order]
    out = []
    for qi in np.flatnonzero(np.char.endswith(fid, "00")):
        dx = lon - lon[qi]
        dy = lat - lat[qi]
        d2 = dx * dx + dy * dy
        cand = np.flatnonzero(d2 <= dist * dist)
        top = cand[np.argsort(d2[cand], kind="stable")][:k]
        out.extend((fid[qi], fid[j], r + 1) for r, j in enumerate(top))
    return sorted(out)


def _track_bboxes(tracks: pa.Table) -> pa.Table:
    bb = np.empty((tracks.num_rows, 4))
    for i, w in enumerate(tracks.column("geom_wkt").to_pylist()):
        xy = np.array(
            [p.split(" ") for p in w[len("LINESTRING (") : -1].split(", ")], dtype=np.float64
        )
        bb[i] = (xy[:, 0].min(), xy[:, 1].min(), xy[:, 0].max(), xy[:, 1].max())
    for j, c in enumerate(("minx", "miny", "maxx", "maxy")):
        tracks = tracks.append_column(c, pa.array(bb[:, j]))
    return tracks


class Batch(Workload):
    """The engine's batch job over one seeded input set: the write side
    (docs through geometry extraction into a point index, tracks into a
    tiered extent index), the read side (PIP joins in three modes, zonal
    stats, adaptive kNN) and the tiling side (KDE pyramid, raster mosaic)."""

    name = "batch"

    def generate(self) -> None:
        from geowave_spark import datagen as dg

        rng = np.random.RandomState(self.seed)
        d = self.root / "in"
        parts = 2 * self.cores
        pts = dg._gen_points(rng, JOIN_POINTS)
        zones, hp = dg._gen_zones(rng, JOIN_ZONES)
        self.points_dir = _write_parts(pts, d / "points", parts)
        pq.write_table(zones, d / "zones.parquet")
        pq.write_table(hp, d / "zone_halfplanes.parquet")
        pq.write_table(_zone_bbox(zones), d / "zone_bbox.parquet")
        self.docs_dir = _write_parts(dg._gen_docs(rng, INGEST_DOCS), d / "docs", parts)
        tracks = _track_bboxes(dg._gen_tracks(rng, INGEST_TRACKS))
        self.tracks_dir = _write_parts(tracks, d / "tracks", parts)
        self.kde_dir = _write_parts(dg._gen_points(rng, KDE_POINTS), d / "kde_points", parts)
        self.cov_dir = _write_parts(dg._gen_coverages(rng, COVERAGES), d / "coverages", 1)
        self._raster_ref: Any = None

    def prepare(self, spark, tr) -> None:
        from pyspark.sql import functions as F

        d = self.root / "in"
        self.spark = spark
        self.P = spark.read.parquet(self.points_dir)
        self.Z = spark.read.parquet(str(d / "zones.parquet")).filter(F.col("zclass") == "convex")
        self.Q = self.P.filter(F.col("fid").endswith("00")).select(
            F.col("fid").alias("qid"), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
        )
        self.D = spark.read.parquet(self.docs_dir)
        self.TR = spark.read.parquet(self.tracks_dir)
        self.K = spark.read.parquet(self.kde_dir)
        self.C = spark.read.parquet(self.cov_dir)

    def warm_up(self, tr) -> None:
        """The first call of each operation pays for JIT compilation, code
        generation and Python worker start-up and imports (a cold pass takes
        ~1.5x a warm one); run the warm-up pass untimed."""
        for op in self.passes("warm"):
            op.fn(tr)
        self.ingests.clear()

    def passes(self, i: int | str) -> list[Op]:
        from pyspark.sql import functions as F

        from geowave_spark.extract import with_geometry
        from geowave_spark.operators.kde import kde_pyramid
        from geowave_spark.operators.knn import knn_join_adaptive
        from geowave_spark.operators.raster import mosaic_summary, mosaic_tiles, raster_tiles
        from geowave_spark.operators.spatial_join import pip_join, zonal_stats
        from geowave_spark.sources.tables import ingest_extents, ingest_points

        join = "operators.spatial_join"

        def ingest_docs(tag):
            def fn(tr):
                path = self.root / "out" / f"docs-{i}{tag}"
                t0 = time.perf_counter()
                with tr.span("with_geometry", "extract"):
                    geo = with_geometry(self.D).select("doc_id", "geom_wkt", "cx", "cy")
                with tr.span("ingest_points", "sources.tables"):
                    ingest_points(geo, str(path), lon_col="cx", lat_col="cy", stats=True)
                self.ingests.append((i, INGEST_DOCS, time.perf_counter() - t0))
                _note_write(tr, path, self.docs_dir)
                return str(path)

            return fn

        def ingest_tracks(tag):
            def fn(tr):
                path = self.root / "out" / f"tracks-{i}{tag}"
                t0 = time.perf_counter()
                with tr.span("ingest_extents", "sources.tables"):
                    ingest_extents(self.TR, str(path), stats=True)
                self.ingests.append((i, INGEST_TRACKS, time.perf_counter() - t0))
                _note_write(tr, path, self.tracks_dir)
                return str(path)

            return fn

        def pip(mode):
            def fn(tr):
                with tr.span(f"pip_join.{mode}", join):
                    df = pip_join(self.P, self.Z, mode=mode).select("fid", "zone_id")
                with tr.span(f"pip_join.{mode}", join, "exec"):
                    t = _force(df)
                tr.note("operators.spatial_join.rows", t.num_rows)
                return t

            return fn

        def zonal(tr):
            with tr.span("zonal_stats", join):
                df = zonal_stats(
                    self.P,
                    self.Z,
                    [F.count("*").alias("n_points"), F.sum("magnitude").alias("sum_magnitude")],
                ).select("zone_id", "n_points", "sum_magnitude")
            with tr.span("zonal_stats", join, "exec"):
                t = _force(df)
            if tr.enabled:
                tr.note("operators.spatial_join.rows", pc.sum(t.column("n_points")).as_py())
            return t

        def knn(tr):
            with tr.span("knn_join_adaptive", "operators.knn"):
                df = knn_join_adaptive(self.Q, self.P, k=KNN_K, max_distance_deg=KNN_DIST)
                df = df.select("qid", "fid", "rank")
            with tr.span("knn_join_adaptive", "operators.knn", "exec"):
                t = _force(df)
            if tr.enabled:
                tr.note("operators.knn.queries", pc.count_distinct(t.column("qid")).as_py())
            return t

        def kde(tr):
            with tr.span("kde_pyramid", "operators.kde"):
                df = kde_pyramid(
                    self.K, min_level=KDE_LEVELS[0], max_level=KDE_LEVELS[1], tile_size=KDE_TILE
                ).select("level", "cell_id", "weight_scaled", "normalized", "percentile")
            with tr.span("kde_pyramid", "operators.kde", "exec"):
                t = _force(df)
            tr.note("operators.kde.points", KDE_POINTS)
            return t

        def raster(tr):
            with tr.span("raster_tiles", "operators.raster"):
                df = mosaic_summary(mosaic_tiles(raster_tiles(self.C))).select(
                    "tier", "xb", "yb", "n_sources", "checksum", "n_nodata"
                )
            with tr.span("mosaic_summary", "operators.raster", "exec"):
                return _force(df)

        ops = [
            Op("ingest_docs", "sources.tables", ingest_docs("a")),
            Op("ingest_tracks", "sources.tables", ingest_tracks("a")),
            Op("pip", join, pip("fixed")),
            Op("pip", join, pip("tiered")),
            Op("pip", join, pip("hex")),
            Op("zonal", join, zonal),
            Op("knn", "operators.knn", knn),
            Op("kde", "operators.kde", kde),
            Op("raster", "operators.raster", raster),
        ]
        if i == "warm":
            # hex mode and zonal_stats run on the cell-join path the fixed
            # and tiered joins have just warmed (cold, they took at most
            # 0.4 s more than warm); leaving them out saves ~4 s a run
            return [op for n, op in enumerate(ops) if n not in (4, 5)]
        # the write side again at the end of a timed pass: the ingest rate
        # then averages over the whole pass, not over its first seconds alone
        return ops + [
            Op("ingest_docs", "sources.tables", ingest_docs("b")),
            Op("ingest_tracks", "sources.tables", ingest_tracks("b")),
        ]

    def check(self, key: str, payload: Any) -> bool:
        from pyspark.sql import functions as F

        from geowave_spark.sources.tables import read_indexed

        def counts(path, col):
            back = read_indexed(self.spark, path)
            return tuple(back.agg(F.count("*"), F.count_distinct(col)).first())

        if key == "ingest_docs":
            return counts(payload, "doc_id") == (INGEST_DOCS, INGEST_DOCS)
        if key == "ingest_tracks":
            # K1 insertion cells duplicate extents; every track comes back
            rows, tracks = counts(payload, "fid")
            return tracks == INGEST_TRACKS and rows >= INGEST_TRACKS
        if key == "raster":
            # structural: every mosaic cell holds >= 1 source and at most a
            # tile of nodata; repeated passes give the same mosaic
            from geowave_spark.operators.raster import TILE_SIZE

            rows = _rows(payload)
            ok = bool(rows) and all(
                r[3] >= 1 and r[4] >= 0 and 0 <= r[5] <= TILE_SIZE * TILE_SIZE for r in rows
            )
            if self._raster_ref is None:
                self._raster_ref = rows
            return ok and rows == self._raster_ref
        return super().check(key, payload)

    def _compute_expected(self, key: str) -> Any:
        d = self.root / "in"
        if key in ("pip", "zonal"):
            # half-plane PIP over the convex zones (a*lon + b*lat <= c on
            # every edge), prefiltered by each zone's vertex bbox
            rows = self._duck().execute(
                f"""
                WITH hp AS (SELECT * FROM '{d}/zone_halfplanes.parquet'),
                bb AS (SELECT * FROM '{d}/zone_bbox.parquet')
                SELECT p.fid, bb.zone_id, p.magnitude
                FROM '{self.points_dir}/*.parquet' p JOIN bb
                  ON p.lon BETWEEN bb.minx AND bb.maxx AND p.lat BETWEEN bb.miny AND bb.maxy
                WHERE NOT EXISTS (
                  SELECT 1 FROM hp h
                  WHERE h.zone_id = bb.zone_id AND h.a * p.lon + h.b * p.lat > h.c)
                """
            ).fetchall()
            if key == "pip":
                return sorted((f, z) for f, z, _ in rows)
            agg: dict[str, list] = {}
            for _, z, m in rows:
                a = agg.setdefault(z, [0, 0.0])
                a[0] += 1
                a[1] += m
            return sorted((z, n, s) for z, (n, s) in agg.items())
        if key == "knn":
            return _knn_brute(pq.read_table(self.points_dir), KNN_K, KNN_DIST)
        if key == "kde":
            from geowave_spark.operators.kde import kde_oracle_sql

            sql = kde_oracle_sql(f"{self.kde_dir}/*.parquet", *KDE_LEVELS, KDE_TILE)
            cols = "level, cell_id, weight_scaled, normalized, percentile"
            return self._duck().execute(f"SELECT {cols} FROM ({sql})").fetch_arrow_table()
        raise KeyError(key)

    def isolate(self, spark, tr, results) -> None:
        from pyspark.sql import functions as F

        from geowave_spark.extract import with_geometry
        from geowave_spark.operators.indexing import (
            cell_at_tier,
            with_hex_bins,
            with_insertion_cells,
            with_point_cells,
        )
        from geowave_spark.operators.spatial_join import choose_cover_tier, cover_cells_udf
        from geowave_spark.sfc import DEFAULT_CONFIG as cfg

        with tr.span("with_geometry", "extract", "isolation"):
            _noop(with_geometry(self.D))
        tr.note("extract.docs", INGEST_DOCS)
        with tr.span("with_point_cells", "operators.indexing", "isolation"):
            _noop(with_point_cells(self.P))
        tr.note("operators.indexing.points", JOIN_POINTS)
        with tr.span("with_hex_bins", "operators.indexing", "isolation"):
            _noop(with_hex_bins(self.P))
        tr.note("operators.indexing.hex_points", JOIN_POINTS)
        with tr.span("with_insertion_cells", "operators.indexing", "isolation"):
            _noop(with_insertion_cells(self.TR))
        tr.note("operators.indexing.extents", INGEST_TRACKS)
        # candidate pairs of the fixed-mode cover: the zones' cover cells at
        # the planner's tier against the probe's ancestor cell at that tier
        with tr.span("candidates", "operators.spatial_join", "isolation"):
            tier = choose_cover_tier(self.Z, "geom_wkt", cfg)
            zc = self.Z.select(
                "zone_id", F.explode(cover_cells_udf(tier, cfg)(F.col("geom_wkt"))).alias("_c")
            )
            probe = with_point_cells(self.P).select(
                cell_at_tier(F.col("cell"), cfg.finest, tier).alias("_c")
            )
            cand = probe.join(F.broadcast(zc), "_c").count()
        tr.note("operators.spatial_join.candidates", cand)
        tr.note("operators.spatial_join.fixed_rows", len(self.expected("pip")))


def _note_write(tr, path: Path, input_dir: str) -> None:
    if not tr.enabled:
        return
    written, files = _dir_bytes(path)
    tr.note("sources.tables.written", written)
    tr.note("sources.tables.files", files)
    tr.note("sources.tables.input", _dir_bytes(Path(input_dir))[0])


# ---------------------------------------------------------------------------
# scan_stream
# ---------------------------------------------------------------------------

SCAN_POINTS = 20_000
SCAN_BLOCKS = 60  # 10 scans per block; a pass is a pair of blocks
WARM_BLOCK = SCAN_BLOCKS  # one more block, run once before measuring
BLOCK = ("box",) * 4 + ("box_time",) * 2 + ("polygon",) * 2 + ("cql",) * 2
_TS0 = dt.datetime(2012, 1, 1)
_TS_SPAN_S = (dt.datetime(2014, 1, 1) - _TS0).total_seconds()


@dataclass
class Scan:
    kind: str
    bbox: tuple[float, float, float, float]  # maxx > 180 when it crosses the date line
    wkt: str = ""
    ts: tuple[dt.datetime, dt.datetime] | None = None
    halfplanes: list | None = None
    cql: str = ""


def _trimmed_mean(v: list[float]) -> float:
    v = sorted(v)
    k = len(v) // 8
    return statistics.fmean(v[k : len(v) - k])


def _box_wkt(x0, y0, x1, y1) -> str:
    return f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"


def _strata(rng: np.random.RandomState, n: int) -> np.ndarray:
    """n uniforms in [0, 1), one per n-th of the range, in ascending order."""
    return (np.arange(n) + rng.uniform(size=n)) / n


def gen_scans(rng: np.random.RandomState, blocks: int) -> list[Scan]:
    """Seeded query mix: per block of 10, 4 boxes, 2 box+time, 2 convex
    polygons and 2 CQL strings in shuffled order.  Extents are log-uniform
    in [0.05, 20] degrees, box+time windows log-uniform in [1, 365] days,
    centers hot (near a datagen cluster) or uniform; one box per block
    crosses the date line and one CQL string per block has a DURING clause.
    A query's latency follows mostly from its extent (the router takes the
    slower 3D route for extents over ~1 degree), so blocks come in pairs
    that carry the same mix: for each pair every kind draws its extents and
    windows stratified (one per equal share of the log range) over twice its
    slots in a block, each block of the pair takes every other stratum, and
    which extents get a hot center, the shorter windows or the DURING
    clause alternates between the two blocks."""
    from geowave_spark import datagen as dg

    out: list[Scan] = []
    lo, hi = math.log(0.05), math.log(20.0)
    for b in range(blocks):
        j = b % 2  # which block of its pair
        if j == 0:
            # a fixed order of kinds: draws depend on --seed only
            draws = {
                kind: (_strata(rng, 2 * BLOCK.count(kind)), _strata(rng, 2 * BLOCK.count(kind)))
                for kind in dict.fromkeys(BLOCK)
            }
        kinds = rng.permutation(BLOCK)
        exts, hot, spans = np.empty(len(kinds)), np.empty(len(kinds), bool), np.empty(len(kinds))
        for kind, (ext_u, span_u) in draws.items():
            at = rng.permutation(np.flatnonzero(kinds == kind))  # slots by extent rank
            ext_u, span_u = ext_u[j::2], span_u[j::2]
            exts[at] = np.exp(lo + (hi - lo) * ext_u)
            hot[at] = np.arange(len(at)) % 2 == j
            spans[at] = np.exp(math.log(86_400) + math.log(365) * span_u[:: 1 - 2 * j])
            if kind == "cql":
                timed_cql = at[1 - j]  # the other has no time
        crosser = rng.choice(np.flatnonzero(kinds == "box"))
        for q, kind in enumerate(kinds):
            ext = float(exts[q])
            w, h = ext, ext * rng.uniform(0.5, 1.0)
            if hot[q]:
                cx0, cy0 = dg.CLUSTERS[rng.randint(len(dg.CLUSTERS))]
                cx, cy = cx0 + rng.normal(0, 1.0), cy0 + rng.normal(0, 1.0)
            else:
                cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
            if q == crosser:
                cx = 180.0 + rng.uniform(-0.4, 0.4) * w  # crosses the date line
            x0, x1 = cx - w / 2, cx + w / 2
            y0, y1 = max(cy - h / 2, -89.9), min(cy + h / 2, 89.9)
            if x1 <= 180.0:
                x0, x1 = max(x0, -179.9), min(x1, 179.9)
            bbox = (x0, y0, x1, y1)
            if kind == "box":
                out.append(Scan(kind, bbox, wkt=_box_wkt(*bbox)))
            elif kind == "box_time":
                span = float(spans[q])
                t0 = _TS0 + dt.timedelta(seconds=int(rng.uniform(0, _TS_SPAN_S - span)))
                out.append(Scan(kind, bbox, ts=(t0, t0 + dt.timedelta(seconds=int(span)))))
            elif kind == "polygon":
                ring = dg._convex_ring(rng, cx, cy, w / 2, h / 2, rng.randint(5, 12))
                x, y = ring[:, 0], ring[:, 1]
                if (x[:-1] * y[1:] - x[1:] * y[:-1]).sum() < 0:
                    ring = ring[::-1]
                wkt = "POLYGON (" + dg._ring_wkt(ring) + ")"
                bb = (float(x.min()), float(y.min()), float(x.max()), float(y.max()))
                out.append(Scan(kind, bb, wkt=wkt, halfplanes=_halfplanes(ring)))
            else:
                cats = rng.choice(8, 3, replace=False)
                cql = (
                    f"BBOX(geom, {x0!r}, {y0!r}, {x1!r}, {y1!r}) "
                    f"AND magnitude >= {int(rng.randint(1, 60))} "
                    f"AND category IN ({', '.join(repr(f'cat{c}') for c in cats)})"
                )
                if q == timed_cql:
                    span = float(spans[q])
                    t0 = _TS0 + dt.timedelta(seconds=int(rng.uniform(0, _TS_SPAN_S - span)))
                    t1 = t0 + dt.timedelta(seconds=int(span))
                    cql += f" AND event_ts DURING {t0.isoformat()}/{t1.isoformat()}"
                out.append(Scan(kind, bbox, cql=cql))
    return out


class ScanStream(Workload):
    """One client issuing a seeded stream of index scans over a points
    table ingested once at set-up."""

    name = "scan_stream"
    segments = 3

    def generate(self) -> None:
        from geowave_spark import datagen as dg

        rng = np.random.RandomState(self.seed)
        pts = dg._gen_points(rng, SCAN_POINTS)
        self.points_dir = _write_parts(pts, self.root / "in" / "points", 2 * self.cores)
        self.scans = gen_scans(rng, SCAN_BLOCKS + 1)

    def prepare(self, spark, tr) -> None:
        from geowave_spark.plans.index_select import (
            layouts_for,
            release_layouts,
            routed_points_query,
        )
        from geowave_spark.sources.tables import ingest_points, read_indexed

        release_layouts()  # the previous set-up's table is gone
        self.P0 = spark.read.parquet(self.points_dir)
        idx = self.root / "idx" / "points"
        t0 = time.perf_counter()
        with tr.span("ingest_points", "sources.tables", "setup"):
            ingest_points(self.P0, str(idx), stats=True)
        self.ingests.append((len(self.ingests), SCAN_POINTS, time.perf_counter() - t0))
        _note_write(tr, idx, self.points_dir)
        self.T = read_indexed(spark, str(idx))
        with tr.span("layouts_for", "plans.index_select", "setup"):
            layouts = layouts_for(self.T)
            # the router builds a key histogram per set of touched years on
            # first use and keeps it; fill that cache for every year set
            # the query mix can touch, as a long-lived store would have
            for lo, hi in ((2012, 2012), (2013, 2013), (2012, 2013)):
                routed_points_query(
                    self.T, (0.0, 0.0, 1.0, 1.0), dt.datetime(lo, 6, 1), dt.datetime(hi, 7, 1),
                    layouts=layouts,
                )
        with tr.span("warmup", "operators.range_query", "setup"):
            self._scan(self.scans[WARM_BLOCK * len(BLOCK)], tr)

    def warm_up(self, tr) -> None:
        """Each query shape compiles on first use; run the warm-up block so
        the measured blocks start warm."""
        for op in self._block(WARM_BLOCK):
            op.fn(tr)

    def _scan(self, s: Scan, tr) -> pa.Table:
        from pyspark.sql import functions as F

        if s.kind in ("box", "polygon"):
            from geowave_spark.operators.range_query import spatial_query_points

            layer = "operators.range_query"
            with tr.span("spatial_query_points", layer):
                df = spatial_query_points(self.T, s.wkt, cell_col="cell")
        elif s.kind == "box_time":
            from geowave_spark.plans.index_select import routed_points_query

            layer = "plans.index_select"
            with tr.span("routed_points_query", layer):
                df, route = routed_points_query(self.T, s.bbox, *s.ts)
            tr.note(f"plans.route.{route}", 1)
        else:
            from geowave_spark.plans.cql_route import cql_routed_query

            layer = "plans.cql_route"
            with tr.span("cql_routed_query", layer):
                df, route = cql_routed_query(self.T, s.cql)
            tr.note(f"plans.route.{route}", 1)
        with tr.span(s.kind, layer, "exec"):
            return _force(df.select(F.col("fid")))

    def passes(self, i: int) -> list[Op]:
        b = 2 * i % SCAN_BLOCKS
        return self._block(b) + self._block(b + 1)

    def pass_time(self, passes: list[list[tuple[str, float]]]) -> float:
        """Time of one block from the mean latency of each query kind,
        weighted by the kind's share of a block.  Every block holds new
        queries; the mean keeps the share of slow routes, and dropping the
        slowest and fastest eighth of each kind keeps out a scheduler stall."""
        lat: dict[str, list[float]] = {}
        for p in passes:
            for key, d in p:
                lat.setdefault(self.scans[int(key[4:])].kind, []).append(d)
        return sum(_trimmed_mean(lat[kind]) for kind in BLOCK)

    def _block(self, b: int) -> list[Op]:
        layers = {
            "box": "operators.range_query",
            "polygon": "operators.range_query",
            "box_time": "plans.index_select",
            "cql": "plans.cql_route",
        }
        start = b * len(BLOCK)
        return [
            Op(f"scan{q}", layers[s.kind], lambda tr, s=s: self._scan(s, tr))
            for q, s in enumerate(self.scans[start : start + len(BLOCK)], start)
        ]

    def _compute_expected(self, key: str) -> Any:
        s = self.scans[int(key[4:])]
        if s.kind == "cql":
            from pyspark.sql import functions as F

            from geowave_spark.functions.cql import parse_cql, to_column

            return _rows(_force(self.P0.filter(to_column(parse_cql(s.cql))).select(F.col("fid"))))
        x0, y0, x1, y1 = s.bbox
        if x1 > 180.0:
            lon = f"(lon >= {x0!r} OR lon <= {x1 - 360.0!r})"
        else:
            lon = f"lon BETWEEN {x0!r} AND {x1!r}"
        where = f"{lon} AND lat BETWEEN {y0!r} AND {y1!r}"
        if s.kind == "box_time":
            where += f" AND event_ts >= TIMESTAMP '{s.ts[0]}' AND event_ts < TIMESTAMP '{s.ts[1]}'"
        if s.kind == "polygon":
            where += "".join(f" AND {a!r} * lon + {b!r} * lat <= {c!r}" for a, b, c in s.halfplanes)
        sql = f"SELECT fid FROM '{self.points_dir}/*.parquet' WHERE {where}"
        return sorted(self._duck().execute(sql).fetchall())

    def isolate(self, spark, tr, results) -> None:
        """Rows the coarse predicates pass per returned row, and the range
        decomposition, for the spatial scans of the traced blocks."""
        from pyspark.sql import functions as F

        from geowave_spark.operators.range_query import bbox_predicate, sfc_range_predicate
        from geowave_spark.sfc import DEFAULT_CONFIG as cfg
        from geowave_spark.sfc.tiered import decompose_query_ranges, normalize_lon_range

        for key, rows in results.items():
            s = self.scans[int(key[4:])]
            if s.kind not in ("box", "polygon"):
                continue
            with tr.span("coarse_rows", "operators.range_query", "isolation"):
                coarse, _ = bbox_predicate(s.wkt, F.col("lon"), F.col("lat"))
                coarse = sfc_range_predicate(s.wkt, F.col("cell"), cfg.finest, cfg) & coarse
                examined = self.T.filter(coarse).count()
            tr.note("operators.range_query.examined", examined)
            tr.note("operators.range_query.returned", rows)
            x0, y0, x1, y1 = s.bbox
            n = 0
            with tr.span("decompose_query_ranges", "sfc.tiered", "isolation"):
                for lo, hi in normalize_lon_range(x0, x1):
                    n += len(decompose_query_ranges(lo, y0, hi, y1, cfg.finest, 64, cfg))
            tr.note("sfc.tiered.ranges", n)


WORKLOADS = {w.name: w for w in (Batch, ScanStream)}
