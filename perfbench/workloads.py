"""The benchmark's three workloads.

Each workload makes its inputs from a seed, runs one iteration to a fully
materialized result (`run`), runs a traced iteration that persists and
materializes every layer's output inside its own span (`traced`), and checks
its output against an independent oracle (`check`).  Everything here calls
the package's public functions; nothing reads the repository's older
`bench.py` or its environment knobs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from osm_to_netex_spark.functions import geo
from osm_to_netex_spark.functions.portable import DUCK, SPARK
from osm_to_netex_spark.operators import assemble, extract, knn, pip, tiling, zones
from osm_to_netex_spark.plans import convert_queries, job, netex
from osm_to_netex_spark.sources import documents as docs_src
from osm_to_netex_spark.sources.catalog import SnapshotCatalog

import plan
from spans import Tracer

# country-scale extent, so zone and stop density look like a fare network
BBOX = (55.0, 63.0, 5.0, 15.0)
CELL_RES = (7, 8, 9)


@dataclass
class Inputs:
    path: str
    n_docs: int
    input_bytes: int


@dataclass
class Result:
    digest: tuple
    stored_bytes: int
    # sampled result rows, as JSON, for the output check
    sample: str | None = None


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _digest(run: plan.PlanRun, name: str) -> tuple:
    o = run.observed(name)
    return (o["rows"], o["xor"], o["sum"])


def _suffix_mod(col: str, m: int, dialect: str) -> str:
    """Deterministic sample rule on ids shaped ``NSR:<Entity>:<n>``."""
    if dialect == SPARK:
        return f"try_cast(substring_index({col}, ':', -1) as bigint) % {m} = 0"
    return f"try_cast(split_part({col}, ':', 3) as bigint) % {m} = 0"


def _duck(sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("set threads = 4")
        return con.execute(sql).fetchall()
    finally:
        con.close()


class Workload:
    name = ""
    sizes: dict = {}
    bbox = BBOX
    # Spark task threads (local[n]): three of a 4-vCPU host's four.  On
    # local[4] the scheduling, JIT-compiler and GC threads had no CPU of
    # their own, and iterations ran slower and spread wider between runs
    cores = 3
    # iterations run as set-up before measuring: the first compiles the
    # plans, the next ones let the JVM finish compiling its hot code
    warmup = 2

    def __init__(self, seed: int):
        self.seed = seed

    def make_inputs(self, spark, path: str) -> Inputs:
        s = self.sizes
        corpus = docs_src.synthesize_corpus(
            spark, n_docs=s["n_docs"], n_zones=s["n_zones"], n_groups=s["n_groups"],
            n_points=s["n_points"], bbox=self.bbox, seed=self.seed,
            zone_radius_scale=s["radius_scale"],
        )
        docs_src.write_documents(corpus, path, partitions=s["partitions"])
        return Inputs(path, s["n_docs"], dir_bytes(path)[0])

    def corpus_glob(self, inputs: Inputs) -> str:
        return os.path.join(inputs.path, "*.parquet")

    def cleanup(self, workdir: str, i) -> None:
        """Remove what iteration ``i`` left in ``workdir``."""


# ---------------------------------------------------------------------------
# pip_flagship
# ---------------------------------------------------------------------------
def _cells(df: DataFrame) -> tuple[DataFrame, list[str]]:
    staged, hex_cols = geo.hex_cells_staged(df, "lat", "lon", CELL_RES)
    for r in CELL_RES:
        staged = staged.withColumn(f"__quadc{r}", F.expr(geo.quad_cell("lat", "lon", r, SPARK)))
    return staged, hex_cols + [f"__quadc{r}" for r in CELL_RES]


def _observe_cells(staged: DataFrame, cols: list[str]) -> DataFrame:
    # bit_xor, not sum: packed cell ids overflow a sum
    return staged.observe(
        "tiles", F.expr(f"bit_xor({' ^ '.join(cols)})").alias("chk"), F.count("lat").alias("n")
    )


def _flagship_sides(cached: DataFrame) -> tuple[DataFrame, DataFrame]:
    nodes = cached.where(F.col("kind") == "osm_node")
    ways = cached.where(F.col("kind") == "osm_way").selectExpr(
        "way_id", "nd_refs", "doc_id", "cast(null as map<string,string>) as tags"
    )
    return nodes, ways


def _points(nodes: DataFrame) -> DataFrame:
    return nodes.where(F.col("entity").isNotNull()).select(
        F.col("tag_id").alias("point_id"), "lat", "lon"
    )


def _polys(asm: DataFrame) -> DataFrame:
    return asm.selectExpr("cast(way_id as string) as zone_id", "pos_list")


class PipFlagship(Workload):
    """Stored corpus → slim span parse with hex+quad cells (res 7-9)
    observed → persisted parse → way→ring assembly (ways broadcast) →
    cell-pruned PIP at quad res 12, as one DAG."""

    name = "pip_flagship"
    # one task thread: between ten runs on a shared 4-vCPU host, the
    # median CPU time of an iteration spread by 24 % of its median on
    # local[3] and by 12 % on local[1] (quartile distance ÷ median)
    cores = 1
    # its iterations are mostly plan building and optimization, whose JVM
    # code keeps getting faster for several iterations
    warmup = 3
    sizes = dict(n_docs=40_000, n_zones=300, n_groups=8, n_points=24_000,
                 radius_scale=1.5, partitions=16)
    PIP_RES = 12
    SAMPLE_MOD = 31

    def build(self, spark, inputs: Inputs):
        corpus = docs_src.read_documents(spark, inputs.path)
        both = extract.extract_nodes_ways_slim(corpus, tag_fields=("entity", "id"))
        staged, cols = _cells(both)
        cached = _observe_cells(staged, cols).drop(*cols).persist(StorageLevel.MEMORY_AND_DISK)
        nodes, ways = _flagship_sides(cached)
        asm = assemble.assemble_poslist(ways, nodes, strict=False, broadcast_ways=True)
        bound = pip.bind_points_to_polygons(_points(nodes), _polys(asm), res=self.PIP_RES, scheme="quad")
        return bound, cached

    def run(self, spark, inputs: Inputs, workdir: str, i, sw) -> Result:
        sample = F.expr(_suffix_mod("point_id", self.SAMPLE_MOD, SPARK))
        with sw.timed():
            bound, cached = self.build(spark, inputs)
            qe, rows = plan.materialize(plan.observe(bound, "result", sample))
        try:
            run = plan.walk(qe, rows, read_metrics=False)
            stored = plan.cached_bytes(spark)
        finally:
            cached.unpersist(blocking=True)
        tiles = run.observed("tiles")
        return Result(_digest(run, "result") + (tiles["chk"], tiles["n"]), stored,
                      run.observed("result")["sample"])

    def check(self, spark, inputs: Inputs, result: Result) -> list[str]:
        errors = []
        got = sorted((r["point_id"], r["zone_id"]) for r in json.loads(result.sample))
        corpus = self.corpus_glob(inputs)
        ctes = convert_queries.corpus_ctes().replace(convert_queries.FIXTURE_CORPUS, corpus)
        pts_sql = f"""
            select j->>'$.tags.id' as point_id,
                   cast(j->'$.lat' as double) as lat, cast(j->'$.lon' as double) as lon
            from (select cast(case when span.kind = 'osm_node' then span.text end as json) as j
                  from spans where span.kind = 'osm_node')
            where j->>'$.tags.entity' is not null"""
        lats, lons = geo.poslist_lats("pos_list", DUCK), geo.poslist_lons("pos_list", DUCK)
        # the bounding-box test only skips ray-casts that cannot hit
        want = sorted(_duck(f"""with {ctes}, pts as ({pts_sql}),
            rings as (select way_id, pos_list, list_min({lats}) as la0, list_max({lats}) as la1,
                             list_min({lons}) as lo0, list_max({lons}) as lo1 from asm)
            select p.point_id, cast(a.way_id as varchar) as zone_id
            from pts p, rings a
            where {_suffix_mod('p.point_id', self.SAMPLE_MOD, DUCK)}
              and p.lat between a.la0 and a.la1 and p.lon between a.lo0 and a.lo1
              and {geo.point_in_polygon('p.lat', 'p.lon', 'a.pos_list', DUCK)}"""))
        if not want:
            errors.append("pip oracle sample is empty")
        if got != want:
            errors.append(f"pip sample differs from the DuckDB ray-cast: {len(got)} vs {len(want)} pairs")
        # xor of the per-row xors == xor of each cell column's bit_xor
        cells = ", ".join(
            [f"bit_xor({geo.hex_cell('lat', 'lon', r, DUCK)})" for r in CELL_RES]
            + [f"bit_xor({geo.quad_cell('lat', 'lon', r, DUCK)})" for r in CELL_RES]
        )
        *xors, n = _duck(f"with {ctes} select {cells}, count(lat) from nodes")[0]
        chk = 0
        for x in xors:
            chk ^= x
        if (chk, n) != result.digest[3:]:
            errors.append(f"tile checksum {result.digest[3:]} != DuckDB {(chk, n)}")
        return errors

    def traced(self, spark, inputs: Inputs, tr: Tracer, workdir: str) -> dict:
        held = _Held()
        keep = held.keep

        with tr.span(self.name):
            with tr.span("documents"):
                corpus = keep(docs_src.read_documents(spark, inputs.path))
                plan.execute(corpus, into_cache=False)
            with tr.span("extract"):
                both = keep(extract.extract_nodes_ways_slim(corpus, tag_fields=("entity", "id")))
                plan.execute(both, into_cache=False)
            staged, cols = _cells(both)
            with tr.span("cells"):
                cells_run = plan.execute(_observe_cells(staged, cols), into_cache=False)
            before = plan.cached_bytes(spark)
            with tr.span("cache"):
                cached = keep(_observe_cells(staged, cols).drop(*cols))
                plan.execute(cached, into_cache=False)
            cache_bytes = plan.cached_bytes(spark) - before
            nodes, ways = _flagship_sides(cached)
            with tr.span("assemble"):
                asm = keep(assemble.assemble_poslist(ways, nodes, strict=False, broadcast_ways=True))
                asm_run = plan.execute(asm, into_cache=False)
            polys = _polys(asm)
            with tr.span("cover"):
                cover = keep(_classified_cover(polys, self.PIP_RES))
                plan.execute(cover, into_cache=False)
            pts = _points(nodes)
            with tr.span("pip"):
                bound = pip.bind_points_to_polygons(pts, polys, res=self.PIP_RES, scheme="quad")
                pip_run = plan.execute(bound, into_cache=False)

        m = _extract_counts(corpus, both, inputs)
        tiles = cells_run.observed("tiles")
        m["cells.computed"] = tiles["n"] * len(cols)
        m["cache.bytes"] = cache_bytes
        m.update(_assemble_counts(ways, nodes, asm_run))
        by_cls = dict(cover.groupBy("__cls").count().collect())
        m["cover.interior"] = by_cls.get(2, 0)
        m["cover.boundary"] = by_cls.get(1, 0)
        # the ray-cast filter is fused into the join, so the plan's join
        # rows are hits; count candidates per cell class on the same cover
        probe = pts.select(
            F.expr(geo.quad_cell("lat", "lon", self.PIP_RES, SPARK)).alias("__cell")
        )
        by_cls = dict(probe.join(cover, "__cell").groupBy("__cls").count().collect())
        cand = sum(by_cls.values())
        m["pip.candidates"] = cand
        m["pip.hits"] = pip_run.rows
        m["pip.hit_ratio"] = pip_run.rows / cand if cand else 0.0
        m["pip.raycast_share"] = by_cls.get(1, 0) / cand if cand else 0.0
        held.release()
        return m


class _Held:
    """DataFrames a traced run persists, unpersisted together at the end."""

    def __init__(self) -> None:
        self.frames: list[DataFrame] = []

    def keep(self, df: DataFrame) -> DataFrame:
        self.frames.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    def release(self) -> None:
        for df in self.frames:
            df.unpersist(blocking=True)


def _classified_cover(polys: DataFrame, res: int) -> DataFrame:
    """The PIP build side: quad cover of each ring, each cell classified
    interior (2), boundary (1) or outside (0, pruned)."""
    return (
        tiling.cover_cells(
            polys.select(F.col("zone_id").alias("__zid"), F.col("pos_list").alias("__pl")),
            "__zid", res, "quad", pos_list="__pl", keep=("__pl",), cell_col="__cell",
        )
        .withColumn("__cls", F.expr(geo.quad_cell_classify("__cell", "__pl", res, SPARK)))
        .where(F.col("__cls") > 0)
    )


def _extract_counts(corpus: DataFrame, parsed: DataFrame, inputs: Inputs) -> dict:
    """documents + extract counters over a parse with a ``kind`` column or
    a node-only parse."""
    spans_in = corpus.select(F.sum(F.size("spans"))).first()[0]
    cols = set(parsed.columns)
    node = F.col("kind") == "osm_node" if "kind" in cols else F.lit(True)
    way = F.col("kind") == "osm_way" if "kind" in cols else F.lit(False)
    node_null = F.col("lat").isNull() | F.col("lon").isNull() | F.col("node_id").isNull()
    way_null = F.col("nd_refs").isNull() | F.col("way_id").isNull() if "way_id" in cols else F.lit(False)
    r = parsed.agg(
        F.count(F.when(node, 1)).alias("nodes"),
        F.count(F.when(way, 1)).alias("ways"),
        F.count(F.when((node & node_null) | (way & way_null), 1)).alias("nulls"),
    ).first()
    return {
        "documents.bytes_read": inputs.input_bytes,
        "extract.spans_in": spans_in,
        "extract.nodes_out": r["nodes"],
        "extract.ways_out": r["ways"],
        "extract.parse_nulls": r["nulls"],
    }


def _assemble_counts(ways: DataFrame, nodes: DataFrame, asm_run: plan.PlanRun) -> dict:
    refs = ways.select("way_id", F.posexplode("nd_refs").alias("pos", "ref"))
    node_ids = nodes.select(F.col("node_id").alias("ref")).distinct()
    resolved = refs.join(node_ids, "ref", "left_semi")
    total_refs = refs.count()
    n_resolved = resolved.count()
    ways_in = ways.count()
    # a way none of whose refs resolves yields no ring: the inner join drops it
    dropped = ways_in - resolved.select("way_id").distinct().count()
    return {
        "assemble.ways_in": ways_in,
        "assemble.rings_out": asm_run.rows,
        "assemble.dropped": dropped,
        "assemble.refs_missing": total_refs - n_resolved,
        "assemble.broadcast_bytes": asm_run.total("BroadcastExchange", "dataSize"),
    }


# ---------------------------------------------------------------------------
# convert_commit
# ---------------------------------------------------------------------------
ENVELOPE = {
    "publication_timestamp": "2024-01-01T00:00:00",
    "description": "perfbench",
    "participant_ref": "osm_to_netex_spark",
    "site_frame_id": "OSM:SiteFrame:1",
    "version": "1",
}


class ConvertCommit(Workload):
    """The CLI product: documents → FareZone conversion + tile index,
    committed to a fresh snapshot catalog, with the XML render."""

    name = "convert_commit"
    # one warm-up only: its iterations are the longest, and the run must
    # stay inside the benchmark's time budget
    warmup = 1
    sizes = dict(n_docs=4_000, n_zones=100, n_groups=8, n_points=1_500,
                 radius_scale=1.5, partitions=4)
    TILE_SAMPLE_MOD = 41

    def argv(self, inputs: Inputs, root: str, cores: int) -> list[str]:
        return ["--input", inputs.path, "--target", "FareZone", "--output", root,
                "--xml-out", root + ".xml", "--run-tag", "bench", "--cores", str(cores)]

    def run(self, spark, inputs: Inputs, workdir: str, i, sw) -> Result:
        # a fresh root each time: the job's zone count reads every past append
        root = os.path.join(workdir, f"catalog-{i}")
        with sw.timed(), contextlib.redirect_stdout(io.StringIO()):
            out = job.main(self.argv(inputs, root, spark.sparkContext.defaultParallelism))
        stored = dir_bytes(root)[0] + os.path.getsize(root + ".xml")
        self.last_root = root
        self.last_out = out
        return Result(self._readback_digest(spark, root) + (out["n_zones"],), stored)

    def _readback_digest(self, spark, root: str) -> tuple:
        cat = SnapshotCatalog(spark, root)
        dig = ()
        for table in ("zones", "groups", "tile_index"):
            run = plan.execute(plan.observe(cat.read(table).drop("run_tag"), "result"), read_metrics=False)
            dig += _digest(run, "result")
        return dig

    def cleanup(self, workdir: str, i) -> None:
        root = os.path.join(workdir, f"catalog-{i}")
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(root + ".xml")

    def check(self, spark, inputs: Inputs, result: Result) -> list[str]:
        s = self.sizes
        errors = []
        cat = SnapshotCatalog(spark, self.last_root)
        counts = {t: cat.read(t).count() for t in ("zones", "groups", "tile_index")}
        expect = {"zones": s["n_zones"], "groups": s["n_groups"],
                  "tile_index": len(CELL_RES) * (s["n_zones"] + s["n_points"])}
        if counts != expect:
            errors.append(f"catalog readback counts {counts} != {expect}")
        if self.last_out["n_zones"] != s["n_zones"]:
            errors.append(f"job reported n_zones={self.last_out['n_zones']}")
        corpus = self.corpus_glob(inputs)

        def oracle(fn) -> list[tuple]:
            return sorted(_duck(fn().replace(convert_queries.FIXTURE_CORPUS, corpus)))

        zones_got = sorted(tuple(r) for r in cat.read("zones").selectExpr(
            "zone_id", "version", "name", "name_lang", "polygon_id",
            "private_code", "authority_ref", "scoping_method", "zone_topology",
            "element_at(key_list, 'tzMapping') as tz_mapping",
            "array_join(members, ';') as members",
            "array_join(neighbours, ';') as neighbours",
            "cast(valid_from as string) as valid_from",
            "cast(valid_to as string) as valid_to",
            "size(pos_list) as n_pos",
        ).collect())
        if zones_got != oracle(convert_queries.q_convert_farezone_oracle):
            errors.append("zones differ from the DuckDB conversion oracle")
        groups_got = sorted(tuple(r) for r in cat.read("groups").selectExpr(
            "group_id", "name", "name_lang", "private_code", "purpose_of_grouping_ref",
            "array_join(transform(member_zone_refs, x -> coalesce(x, 'NULL')), ';')",
        ).collect())
        if groups_got != oracle(convert_queries.q_convert_farezone_groups_oracle):
            errors.append("groups differ from the DuckDB conversion oracle")
        sample = f"cast(substring_index(doc_id, '-', -1) as bigint) % {self.TILE_SAMPLE_MOD} = 0"
        tiles_got = sorted(tuple(r) for r in cat.read("tile_index").where(sample).selectExpr(
            "doc_id", "res", "array_join(h3_cells, ',')", "array_join(s2_cells, ',')",
        ).collect())
        tiles_want = [
            r for r in oracle(convert_queries.q_doc_tile_assign_oracle)
            if int(r[0].rsplit("-", 1)[1]) % self.TILE_SAMPLE_MOD == 0
        ]
        if not tiles_want or tiles_got != tiles_want:
            errors.append("tile_index sample differs from the DuckDB tile oracle")
        return errors

    def traced(self, spark, inputs: Inputs, tr: Tracer, workdir: str) -> dict:
        held = _Held()
        keep = held.keep

        root = os.path.join(workdir, "catalog-traced")
        cat = SnapshotCatalog(spark, root)
        with tr.span(self.name):
            with tr.span("documents"):
                corpus = keep(docs_src.read_documents(spark, inputs.path))
                plan.execute(corpus, into_cache=False)
            with tr.span("extract"):
                nodes = keep(extract.extract_nodes(corpus))
                ways = keep(extract.extract_ways(corpus))
                rels = keep(extract.extract_relations(corpus))
                for df in (nodes, ways, rels):
                    plan.execute(df, into_cache=False)
            with tr.span("assemble"):
                asm = keep(assemble.assemble_poslist(ways, nodes, broadcast_nodes=True, strict=True))
                asm_run = plan.execute(asm, into_cache=False)
            with tr.span("zones"):
                zdf = keep(zones.map_zones(asm, "FareZone", strict=True))
                zones_run = plan.execute(zdf, into_cache=False)
            with tr.span("groups"):
                gdf = keep(zones.map_groups(rels, zdf.select("way_id", "zone_id")))
                groups_run = plan.execute(gdf, into_cache=False)
            with tr.span("tile_assign"):
                tiles = keep(tiling.document_tile_assign(nodes, resolutions=CELL_RES))
                tiles_run = plan.execute(tiles, into_cache=False)
            with tr.span("catalog"):
                cat.commit(zdf.drop("way_id").withColumn("run_tag", F.lit("bench")), "zones")
                cat.commit(gdf.withColumn("run_tag", F.lit("bench")), "groups")
                cat.commit(tiles.withColumn("run_tag", F.lit("bench")), "tile_index")
            with tr.span("render"):
                xml = netex.render_netex_xml(netex.ConversionResult(
                    zones=zdf.drop("way_id"), groups=gdf, envelope=ENVELOPE))

        m = _extract_counts(corpus, nodes, inputs)
        m["extract.ways_out"] = ways.count()
        m.update(_assemble_counts(ways, nodes, asm_run))
        m["zones.out"] = zones_run.rows
        m["zones.rejected"] = asm_run.rows - zones_run.rows
        m["groups.out"] = groups_run.rows
        m["tile_assign.shuffle_bytes"] = tiles_run.total("Exchange", "shuffleBytesWritten")
        written, files = dir_bytes(root)
        m["catalog.bytes_written"] = written
        m["catalog.files_written"] = files
        if not xml:
            raise RuntimeError("empty NeTEx render")
        held.release()
        shutil.rmtree(root, ignore_errors=True)
        return m


# ---------------------------------------------------------------------------
# knn_link
# ---------------------------------------------------------------------------
class KnnLink(Workload):
    """Quays → 3 nearest StopPlaces, cell-equi-join strategy with
    escalation, over a point-dense corpus with the generator's 30% hotspot
    skew."""

    name = "knn_link"
    # the generator's default extent (about 0.8 x 1.0 degrees) keeps the
    # points dense enough that most quays resolve in the ring rounds
    bbox = docs_src.BBOX
    sizes = dict(n_docs=12_016, n_zones=8, n_groups=8, n_points=12_000,
                 radius_scale=1.0, partitions=8)
    K, RES = 3, 9
    SAMPLE_MOD = 23

    def build(self, spark, inputs: Inputs):
        corpus = docs_src.read_documents(spark, inputs.path)
        nodes = extract.extract_nodes_slim(corpus, tag_fields=("entity", "id")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        quays, stops = self.sides(nodes)
        out = knn.knn_cell_pruned(quays, stops, k=self.K, res=self.RES, stops_are_dimension=False)
        return out, nodes

    @staticmethod
    def sides(nodes: DataFrame) -> tuple[DataFrame, DataFrame]:
        quays = nodes.where(F.col("entity") == "Quay").select(
            F.col("tag_id").alias("quay_id"), "lat", "lon")
        stops = nodes.where(F.col("entity") == "StopPlace").select(
            F.col("tag_id").alias("stop_id"), "lat", "lon")
        return quays, stops

    def run(self, spark, inputs: Inputs, workdir: str, i, sw) -> Result:
        sample = F.expr(_suffix_mod("quay_id", self.SAMPLE_MOD, SPARK))
        with sw.timed():
            out, nodes = self.build(spark, inputs)
            qe, rows = plan.materialize(plan.observe(out, "result", sample))
        try:
            run = plan.walk(qe, rows, read_metrics=False)
            stored = plan.cached_bytes(spark)
        finally:
            nodes.unpersist(blocking=True)
        return Result(_digest(run, "result"), stored, run.observed("result")["sample"])

    def check(self, spark, inputs: Inputs, result: Result) -> list[str]:
        got = sorted((r["quay_id"], r["rn"], r["stop_id"], r["dist_m"]) for r in json.loads(result.sample))
        nodes = extract.extract_nodes_slim(
            docs_src.read_documents(spark, inputs.path), tag_fields=("entity", "id"))
        quays, stops = self.sides(nodes)
        quays = quays.where(_suffix_mod("quay_id", self.SAMPLE_MOD, SPARK))
        want = sorted(
            (r.quay_id, r.rn, r.stop_id, r.dist_m)
            for r in knn.knn_brute_force(quays, stops, k=self.K).collect()
        )
        errors = []
        if not want or [g[:3] for g in got] != [w[:3] for w in want]:
            diff = [(g, w) for g, w in zip(got, want) if g[:3] != w[:3]][:3]
            errors.append(f"knn sample differs from knn_brute_force: {len(got)} vs {len(want)} rows, "
                          f"first (cell-pruned, brute-force) differences {diff}")
        elif any(abs(g[3] - w[3]) > 1e-6 * max(1.0, w[3]) for g, w in zip(got, want)):
            errors.append("knn sample distances differ from knn_brute_force")
        return errors

    def traced(self, spark, inputs: Inputs, tr: Tracer, workdir: str) -> dict:
        held = _Held()
        keep = held.keep

        with tr.span(self.name):
            with tr.span("documents"):
                corpus = keep(docs_src.read_documents(spark, inputs.path))
                plan.execute(corpus, into_cache=False)
            with tr.span("extract"):
                nodes = keep(extract.extract_nodes_slim(corpus, tag_fields=("entity", "id")))
                plan.execute(nodes, into_cache=False)
            quays, stops = self.sides(nodes)
            with tr.span("knn"):
                out = knn.knn_cell_pruned(quays, stops, k=self.K, res=self.RES,
                                          stops_are_dimension=False)
                knn_run = plan.execute(out, into_cache=False)

        m = _extract_counts(corpus, nodes, inputs)
        n_quays = quays.count()
        # the result is a union of: ring round at RES, two escalation
        # rounds, then the brute-force fallback; its children's row counts
        # are k rows per quay resolved at that step
        per_step = knn_run.union_rows
        round1 = per_step[0] // self.K if per_step else 0
        m["knn.resolved_round1_ratio"] = round1 / n_quays if n_quays else 0.0
        m["knn.escalated_quays"] = n_quays - round1
        m["knn.fallback_quays"] = per_step[-1] // self.K if len(per_step) > 1 else 0
        cand = _ring_candidates(quays, stops, self.RES)
        m["knn.candidates"] = cand
        m["knn.candidates_per_row"] = cand / n_quays if n_quays else 0.0
        m["knn.partition_skew"] = _partition_skew(knn_run)
        held.release()
        return m


def _ring_candidates(quays: DataFrame, stops: DataFrame, res: int) -> int:
    """Candidate (quay, stop) pairs of the first ring round: stops in the
    ring-1 cells around each quay's cell."""
    ring = geo.hex_kring(geo.hex_cell("lat", "lon", res, SPARK), res, 1, SPARK)
    q = quays.select(F.explode(F.expr(ring)).alias("c"))
    s = stops.select(F.expr(geo.hex_cell("lat", "lon", res, SPARK)).alias("c"))
    return q.join(s, "c").count()


def _partition_skew(run: plan.PlanRun) -> float:
    """max ÷ median reduce-partition bytes of the largest shuffle."""
    import statistics

    stages = [n.partition_bytes for n in run.nodes if n.partition_bytes]
    if not stages:
        return 0.0
    parts = max(stages, key=sum)
    med = statistics.median(parts)
    return max(parts) / med if med else float(max(parts) > 0)


WORKLOADS = {w.name: w for w in (PipFlagship, ConvertCommit, KnnLink)}
