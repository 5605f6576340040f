"""The workloads, driven only through the engine's public calls.

Each workload generates its tables from the seed (``gen.py``), writes
them where ``iceberg.read_table`` reads them, sets up (``prepare``),
and runs one repetition per ``rep`` call.  ``rep`` returns the list of
verification problems; every output is materialized through a
Spark-side digest that ``gen.py`` predicts independently.  ``traced``
runs the same pipeline split at the layer boundaries, materializing
each layer's output inside its span, and returns the layer counters.
"""

import contextlib
import os
import shutil
import signal
import subprocess
import time

import gen

WORKLOADS = {}
PARTS = 8          # files per generated table


def workload(cls):
    WORKLOADS[cls.name] = cls
    return cls


class Session:
    """The engine's session for one run, plus the processes behind it."""

    def __init__(self, workdir: str, trace: bool):
        from pytrs_spark.session import get_spark
        self.event_dir = os.path.join(workdir, 'events')
        conf = {
            'spark.ui.showConsoleProgress': 'false',
            'spark.sql.warehouse.dir': os.path.join(workdir, 'warehouse'),
            'spark.driver.extraJavaOptions':
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if trace:
            os.makedirs(self.event_dir)
            conf.update({
                'spark.eventLog.enabled': 'true',
                'spark.eventLog.dir': self.event_dir,
                'spark.eventLog.compress': 'false',
                'spark.eventLog.rolling.enabled': 'false',
            })
        self.spark = get_spark(app_name='perfbench', extra_conf=conf)
        self._stopped = False

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it
        started (Python worker daemon and workers included)."""
        if self._stopped:
            return
        self._stopped = True
        from pyspark import SparkContext
        import tracing
        children = [p for p in tracing.tree_pids() if p != os.getpid()]
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()      # the JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        for pid in _wait_gone(children, 20):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        _wait_gone(children, 5)


def _alive(pid) -> bool:
    try:
        with open(f'/proc/{pid}/stat') as f:
            return f.read().rsplit(')', 1)[1].split()[0] != 'Z'
    except OSError:
        return False


def _wait_gone(pids, timeout) -> list:
    """Wait up to ``timeout`` s for ``pids`` to exit; the ones left."""
    end = time.monotonic() + timeout
    while True:
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() > end:
            return pids
        time.sleep(0.05)


def spark_digest(df, cols) -> tuple:
    """Spark side of ``gen.digest`` (one aggregate job)."""
    from pyspark.sql import functions as F
    row = F.concat_ws('|', *[F.col(c).cast('string') for c in cols])
    r = df.agg(F.count(F.lit(1)).alias('n'),
               F.coalesce(F.sum(F.crc32(row.cast('binary'))),
                          F.lit(0)).alias('h')).collect()[0]
    return int(r['n']), int(r['h'])


def compare(name, got, want) -> list:
    return [] if got == want else [f'{name}: got {got}, expected {want}']


def materialize(df):
    """Persist ``df`` and compute it in full; returns (df, rows)."""
    df = df.persist()
    return df, df.count()


class Workload:
    name = None
    rows = 0

    def __init__(self, seed: int):
        self.seed = seed
        self.tables = {}
        self.paths = {}
        self.expect = {}

    def write_inputs(self, spark, root: str) -> None:
        """Write the generated tables where ``iceberg.read_table``
        reads them.  Without the Iceberg runtime the table format is
        plain parquet, written here straight from Arrow: a Spark write
        job per table would add its own cold start to every run."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pytrs_spark import iceberg
        parquet = iceberg.table_format(spark) == 'parquet'
        for name, pdf in self.tables.items():
            path = self.paths[name] = os.path.join(root, name)
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            if parquet:
                os.makedirs(path)
                step = -(-table.num_rows // PARTS)
                for i in range(PARTS):
                    pq.write_table(table.slice(i * step, step),
                                   os.path.join(path, f'part-{i}.parquet'))
            else:
                iceberg.write_table(spark.createDataFrame(table), path)
        self.tables = {}

    def read(self, spark, name):
        from pytrs_spark import iceberg
        return iceberg.read_table(spark, self.paths[name])

    def check_once(self, spark) -> list:
        """Extra verification run once, on the warm-up."""
        return []

    def build_polygons(self, spark, tracer):
        """Polygon layer from the description table, materialized."""
        from pytrs_spark import pipeline
        with tracer.span('layer.build'):
            polys, _ = materialize(pipeline.polygon_layer_from_descs(
                self.read(spark, 'descs')))
        return polys


@workload
class TileLattice(Workload):
    """Bytes-free images assigned to the regular QQ lattice, rolled up
    into the tile pyramid (the all-native join tier)."""
    name = 'tile_lattice'
    rows = 400_000

    def generate(self):
        images, descs, self.expect = gen.tile_lattice_inputs(
            self.seed, self.rows)
        self.tables = {'images': images, 'descs': descs}

    def prepare(self, spark, tracer):
        from pytrs_spark import pipeline
        self.polys = self.build_polygons(spark, tracer)
        # Building the plan collects the layer and memoizes the join's
        # broadcast index on ``self.polys``; repetitions reuse it.
        with tracer.span('join.prep'):
            pipeline.assign_images_to_tiles(
                self.read(spark, 'images'), self.polys, payload_cols=())

    def assign(self, images):
        from pytrs_spark import pipeline
        return pipeline.assign_images_to_tiles(images, self.polys,
                                               payload_cols=())

    def rep(self, spark) -> list:
        from pytrs_spark.spatial.rollup import tile_pyramid
        pyr = tile_pyramid(self.assign(self.read(spark, 'images')))
        return compare('pyramid', spark_digest(
            pyr, ['twprge', 'sec', 'qq', 'level', 'n_images']),
            self.expect['pyramid'])

    def check_once(self, spark) -> list:
        from pyspark.sql import functions as F
        tiles = self.assign(self.read(spark, 'images')).filter(
            F.col('image_id').endswith('00'))     # every 100th image
        return compare('tiles_sample', spark_digest(
            tiles, ['image_id', 'trs', 'qq']), self.expect['tiles_sample'])

    def traced(self, spark, tracer) -> dict:
        from pytrs_spark.spatial.grid import with_anchor
        from pytrs_spark.spatial.rollup import tile_pyramid
        with tracer.span('rep'):
            with tracer.span('iceberg.read'):
                images, n = materialize(self.read(spark, 'images'))
            with tracer.span('join.assign'):
                tiles, n_out = materialize(self.assign(images))
            with tracer.span('rollup'):
                pyr, n_pyr = materialize(tile_pyramid(tiles))
        with tracer.span('grid.anchor'):
            with_anchor(images).write.format('noop').mode(
                'overwrite').save()
        spark.catalog.clearCache()
        # Every lattice cell is exactly one QQ, so each image has one
        # candidate.
        return join_counters(n, n_out, n) | {'rollup.rows_out': n_pyr}


def join_counters(n_in, n_out, candidates) -> dict:
    return {'join.candidates_per_row': candidates / n_in,
            'join.hit_ratio': n_out / candidates,
            'join.assigned_frac': n_out / n_in}


def kernel_docs_per_s(docs) -> float:
    """Single-core throughput of the parse kernels with their memo
    caches cleared (the calls the parse UDF makes per document)."""
    from pytrs_spark.plss import document, tract, trs
    for mod in (document, tract, trs):
        for obj in vars(mod).values():
            if hasattr(obj, 'cache_clear'):
                obj.cache_clear()
    t = time.perf_counter()
    for r in document.parse_documents_kernel(docs):
        for tr in r['tracts']:
            trs.trs_decompose(tr['trs'])
            tract.parse_tract(tr['desc'])
    return len(docs) / (time.perf_counter() - t)


@workload
class ImageDedup(Workload):
    """Joint phash-Hamming + exact-caption keep-one over images with
    planted twins and a hot caption pool."""
    name = 'image_dedup'
    rows = 40_000

    def generate(self):
        images, self.expect = gen.image_dedup_inputs(self.seed, self.rows)
        self.tables = {'images': images}

    def prepare(self, spark, tracer):
        pass

    def rep(self, spark) -> list:
        from pyspark.sql import functions as F
        from pytrs_spark.multimodal import joint_keep_one
        out = joint_keep_one(self.read(spark, 'images'), max_hamming=2)
        out = out.select('image_id', 'component_id',
                         F.col('kept').cast('int').alias('kept'))
        return compare('keep', spark_digest(
            out, ['image_id', 'component_id', 'kept']), self.expect['keep'])

    def traced(self, spark, tracer) -> dict:
        from pytrs_spark.multimodal import caption_dup_edges
        from pytrs_spark.operators.textops import (hamming_near_dup_pairs,
                                                   keep_one)
        drops = {}
        with tracer.span('rep'):
            with tracer.span('iceberg.read'):
                images, n = materialize(self.read(spark, 'images'))
            with tracer.span('textops.hamming'):
                pairs, n_pairs = materialize(hamming_near_dup_pairs(
                    images, id_col='image_id', hash_col='phash',
                    max_hamming=2, drop_stats=drops))
            with tracer.span('multimodal.caption_edges'):
                edges, n_edges = materialize(caption_dup_edges(images))
            with tracer.span('textops.keep_one'):
                out, _ = materialize(keep_one(
                    images, pairs.select('id_a', 'id_b').unionByName(edges),
                    id_col='image_id'))
        kept = out.filter('kept').count()
        spark.catalog.clearCache()
        return {'textops.pairs_out': n_pairs,
                'textops.dropped_rows': drops.get('dropped_rows', 0),
                'multimodal.edges_out': n_edges,
                'textops.kept_frac': kept / n,
                'textops.persistent_rdds_after':
                    spark.sparkContext._jsc.getPersistentRDDs().size()}


@workload
class TileMaterialize(Workload):
    """Images with encoded bytes through checkpointed tile assignment
    on a nested polygon layer (the Arrow winner-reduction tier), raster
    tiles, zonal statistics and kNN corners."""
    name = 'tile_materialize'
    rows = 600
    docs = 200
    buckets = 4

    def generate(self):
        images, descs, self.expect = gen.tile_materialize_inputs(
            self.seed, self.rows, self.docs)
        self.tables = {'images': images, 'descs': descs}

    def check_once(self, spark) -> list:
        return compare('layer', spark_digest(self.polys, ['trs', 'qq']),
                       self.expect['layer'])

    def prepare(self, spark, tracer):
        from pytrs_spark import pipeline
        self.polys = self.build_polygons(spark, tracer)
        # Building the plan collects the layer and memoizes the join's
        # broadcast index on ``self.polys``; repetitions reuse it.
        with tracer.span('join.prep'):
            pipeline.assign_images_to_tiles(
                self.read(spark, 'images'), self.polys, payload_cols=())
        self.n_rep = 0

    def assign(self, images):
        from pytrs_spark import pipeline
        return pipeline.assign_images_to_tiles(images, self.polys,
                                               payload_cols=('x', 'y'))

    def checkpointed(self, spark, source, process):
        from pytrs_spark import lineage
        self.n_rep += 1
        base = os.path.join(os.path.dirname(self.paths['images']),
                            f'rep{self.n_rep}')
        out, lin = os.path.join(base, 'tiles'), os.path.join(base, 'lineage')
        lineage.run_checkpointed(spark, source, process, out, lin,
                                 n_buckets=self.buckets,
                                 run_id=f'rep{self.n_rep}')
        stale = os.path.join(os.path.dirname(base), f'rep{self.n_rep - 1}')
        shutil.rmtree(stale, ignore_errors=True)
        return out, lin

    def rep(self, spark) -> list:
        from pyspark.sql import functions as F
        from pytrs_spark import lineage, pipeline, raster
        from pytrs_spark.spatial.knn import knn_section_corners
        images = self.read(spark, 'images')
        out, lin = self.checkpointed(spark, images, self.assign)
        tiles = lineage.load_output(spark, out)
        problems = self.check_lineage(spark, lin)
        problems += compare('tiles', spark_digest(
            tiles, ['image_id', 'trs', 'qq']), self.expect['tiles'])
        problems += compare('raster', spark_digest(
            pipeline.run_raster(images, self.polys),
            ['trs', 'qq', 'n_images']), self.expect['raster'])
        problems += compare('zonal', spark_digest(
            raster.zonal_pixel_stats(tiles, images),
            ['trs', 'qq', 'n_images', 'n_px', 'px_sum']),
            self.expect['zonal'])
        knn = knn_section_corners(images, k=4).select(
            'image_id', 'rank', F.col('cx').cast('long').alias('cx'),
            F.col('cy').cast('long').alias('cy'))
        problems += compare('knn', spark_digest(
            knn, ['image_id', 'rank', 'cx', 'cy']), self.expect['knn'])
        return problems

    def check_lineage(self, spark, lin) -> list:
        from pyspark.sql import functions as F
        from pytrs_spark import lineage
        r = lineage.lineage_metrics(spark, lin).agg(
            F.count(F.lit(1)), F.sum('n_in'), F.sum('n_out')).collect()[0]
        return compare('lineage', tuple(int(v) for v in r),
                       (self.buckets, self.rows, self.rows))

    def traced(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F
        from pytrs_spark import imagecodec, lineage, pipeline, raster
        from pytrs_spark.operators.parse import parse_documents_full
        from pytrs_spark.spatial.grid import build_polygon_layer
        from pytrs_spark.spatial.knn import knn_section_corners
        descs, n_docs = materialize(self.read(spark, 'descs'))
        with tracer.span('parse'):
            tracts, n_tracts = materialize(parse_documents_full(descs))
        with tracer.span('grid.layer'):
            _, n_poly = materialize(build_polygon_layer(tracts))
        flawed = tracts.filter('desc_is_flawed').select(
            F.countDistinct('doc_id')).collect()[0][0]
        with tracer.span('rep'):
            with tracer.span('iceberg.read'):
                images, n = materialize(self.read(spark, 'images'))
            with tracer.span('join.assign'):
                tiles, n_out = materialize(self.assign(images))
            with tracer.span('lineage'):
                out, lin = self.checkpointed(spark, tiles, lambda df: df)
            with tracer.span('raster.tiles'):
                rast, n_tiles = materialize(
                    pipeline.run_raster(images, self.polys))
            with tracer.span('raster.zonal'):
                materialize(raster.zonal_pixel_stats(
                    lineage.load_output(spark, out), images))
            with tracer.span('knn'):
                _, n_knn = materialize(knn_section_corners(images, k=4))
        max_per_tile = rast.agg(F.max('n_images')).collect()[0][0]
        buckets = lineage.lineage_metrics(spark, lin).count()
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(out) for f in fs)
        blobs = [bytes(b) for b in images.select('bytes').toPandas()['bytes']]
        decoded, t = 0, time.perf_counter()
        while time.perf_counter() - t < 0.5:       # single core
            for b in blobs:
                imagecodec.decode(b)
            decoded += len(blobs)
        decode_per_s = decoded / (time.perf_counter() - t)
        spark.catalog.clearCache()
        return join_counters(n, n_out, self.expect['candidates']) | {
            'knn.rows_out': n_knn, 'lineage.buckets': buckets,
            'lineage.written_mb': written / 2 ** 20,
            'raster.tiles_out': n_tiles,
            'raster.max_images_per_tile': max_per_tile,
            'imagecodec.decode_per_s': decode_per_s,
            'parse.rows_in': n_docs, 'parse.rows_out': n_tracts,
            'parse.flawed_frac': flawed / n_docs,
            'grid.polygons_out': n_poly,
            'plss.kernel_docs_per_s': kernel_docs_per_s(
                gen.parse_corpus(self.seed + 1, 1000)[0])}
