"""The benchmark's two workloads, and why each exists.

Every workload is driven by one client thread in a closed loop: the next
operation is sent only after the previous one returned and its output
was read.  ``--seed`` drives the operation order, the template
parameters and the lake's batches and DML; the input tables are fixed
per scale factor (``data.py``), like a TPC-H data set.

``spatial`` — read-only.  The twelve declared spatial queries interleaved,
    in a seeded order, with half as many instances of a seeded SQL template
    (a range window plus an ``ST_DWithin`` join, window and distance drawn
    from the seed) sent through ``session.sql``: a third of the operations
    and, since every template misses the sizing caches, most of the time.
    Why: ``operators.spatial_join``, ``operators.sql_join``, ``functions``,
    ``geom`` and query construction do most of the work, ``pipeline`` none.  Declared
    queries repeat their shapes, so the grid-size and envelope-stats caches
    hit; template shapes are new, so they miss.  The traced run reports
    the measured share of each (``spatial_join.cache_hit_share``).

``lake`` — writes beside reads, in the reference App's shape: CREATE,
    INSERT, UPDATE and SELECT through one SQL door, ``session.sql``.  A
    fresh warehouse gets a CTAS of one lineitem slice and a customer-points
    table storing ``geo_env`` envelopes.  Writes: INSERT INTO batches the
    client sends, UPDATE, DELETE and MERGE INTO, a ``rewrite_data_files``
    that alternates binpack and ``zorder`` and an ``expire_snapshots``.
    Reads, about half of the operations: q1- and q6-shaped aggregates on
    the current snapshot, a ``VERSION AS OF`` read, a spatial-window read
    of the points table, and two dedup pipeline queries over the document
    table (``minhash_lsh_pairs``, ``exact_dedup_groups``).  Why: the only
    workload that runs ``operators.snapshots``, ``operators.ddl`` and
    ``operators.dml`` and the only one with multi-file tables, so manifest
    pruning shows here and nowhere else; with reads and writes in one run,
    a read gain that costs commits shows too.  The pipeline queries keep
    ``pipeline`` (LSH candidates, shuffled aggregation) measured, and no
    spatial join runs here, so this is the control workload for spatial
    join changes, as ``spatial`` (no snapshot table, no pipeline) is for
    snapshot and pipeline changes.

A third workload, ``dedup`` (the seven dedup and similarity queries
alone), is left out: each run costs a fresh JVM, set-up and a cold pass,
and on a contended four-core host (twice the quiet-host times were
measured) three workloads' runs do not fit the benchmark's time budget.

Layer -> end-to-end map (which end-to-end metric a per-layer metric should
move, on which workload; later changes cite these by name):

==========================  =================================================
layer metrics               should move
==========================  =================================================
session.*                   setup_s and cold_pass_s, all workloads
plans.construct_*           query_geomean_ms on spatial
sql_join.plan_ms            query_geomean_ms on spatial
spatial_join.*              query_geomean_ms on spatial
catalyst.*                  query_geomean_ms on spatial and lake
exec.*                      query_geomean_ms on spatial; ops_per_min on lake
functions.python_rows       query_geomean_ms on lake (window reads)
pipeline.*                  query_geomean_ms and ops_per_min on lake
sources.*                   query_geomean_ms on lake
snapshots.*                 ops_per_min on lake; query_geomean_ms on lake
==========================  =================================================
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import data
from .oracles import connect

SPATIAL_QUERIES = (
    "spatial_range_contains", "spatial_range_intersects",
    "spatial_join_contains", "spatial_join_sql", "spatial_join_sql_comma",
    "spatial_join_sql_dwithin", "spatial_join_sql_chain", "spatial_join_left",
    "spatial_join_broadcast", "spatial_join_dwithin", "spatial_knn_grid",
    "spatial_centroid_agg")
PIPELINE_QUERIES = ("minhash_lsh_pairs", "exact_dedup_groups")

# FIXTURES F4: points derived from integer keys, identical in DuckDB
CX = "CAST(c_custkey % 360 - 180 AS DOUBLE)"
CY = "CAST((c_custkey * 7) % 180 - 90 AS DOUBLE)"
SX = "CAST(s_suppkey % 360 - 180 AS DOUBLE)"
SY = "CAST((s_suppkey * 11) % 180 - 90 AS DOUBLE)"


class Op:
    """One operation: ``run(ctx)`` returns a DataFrame to execute (reads)
    or the result of a statement that already committed (writes);
    ``expected(ctx)`` returns the canonical rows a read must produce;
    ``after(ctx)`` applies a write to the DuckDB mirror."""

    def __init__(self, kind, run, expected=None, after=None, write=False,
                 template=False, user_bytes=0):
        self.kind = kind
        self.user_bytes = user_bytes
        self.run = run
        self.expected = expected
        self.after = after
        self.write = write
        self.template = template


def _declared(name):
    def run(ctx):
        return ctx.queries[name].fn(ctx.spark, ctx.data_dir)

    def expected(ctx):
        return ctx.declared.get(name, ctx.queries[name].oracle)

    return Op(name, run, expected)


def _shuffle(rng, ops):
    return [ops[i] for i in rng.permutation(len(ops))]


# -- spatial ----------------------------------------------------------------------

class Spatial:
    name = "spatial"
    cycle_s = 12.0
    tables = ("nation", "customer", "supplier")
    declared = SPATIAL_QUERIES

    def setup(self, ctx):
        for t in self.tables:
            ctx.load_view(t)
        ctx.sql(f"CREATE OR REPLACE TEMP VIEW bench_cust AS SELECT c_custkey, "
                f"ST_Point({CX}, {CY}) AS geo FROM customer")
        ctx.sql(f"CREATE OR REPLACE TEMP VIEW bench_supp AS SELECT s_suppkey, "
                f"ST_Point({SX}, {SY}) AS geo FROM supplier")
        self.duck = connect(ctx.data_dir, self.tables)

    def close(self):
        self.duck.close()

    def template(self, rng):
        x0 = int(rng.integers(-180, 90)) + 0.5
        y0 = int(rng.integers(-90, 30)) + 0.5
        x1 = x0 + int(rng.integers(60, 90))
        y1 = y0 + int(rng.integers(40, 60))
        d = int(rng.integers(2, 4)) + 0.5
        stmt = (f"SELECT l.c_custkey AS id_l, r.s_suppkey AS id_r "
                f"FROM bench_cust l JOIN bench_supp r "
                f"ON ST_DWithin(l.geo, r.geo, {d}) "
                f"WHERE ST_Contains(ST_PolygonFromEnvelope({x0}, {y0}, {x1}, "
                f"{y1}), l.geo) ORDER BY id_l, id_r")
        oracle = (f"SELECT c_custkey AS id_l, s_suppkey AS id_r "
                  f"FROM customer, supplier "
                  f"WHERE ({CX} - {SX}) * ({CX} - {SX}) + ({CY} - {SY}) * "
                  f"({CY} - {SY}) <= {d * d} "
                  f"AND {CX} > {x0} AND {CX} < {x1} "
                  f"AND {CY} > {y0} AND {CY} < {y1}")
        return Op("template", lambda ctx: ctx.sql(stmt),
                  lambda ctx: ctx.canon.duck(self.duck.sql(oracle)),
                  template=True)

    def cold(self, rng, ctx):
        return _shuffle(rng, [*map(_declared, SPATIAL_QUERIES),
                              self.template(rng)])

    def cycle(self, rng, ctx):
        return _shuffle(rng, [*map(_declared, SPATIAL_QUERIES),
                              *(self.template(rng)
                                for _ in range(len(SPATIAL_QUERIES) // 2))])


# -- lake --------------------------------------------------------------------------

LI = "lake_li"
PTS = "lake_pts"
# integer cents and percents keep every aggregate exact in both engines
LI_SELECT = ("SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS l_id, "
             "l_orderkey, CAST(l_quantity AS BIGINT) AS l_qty, "
             "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS l_price_cents, "
             "CAST(ROUND(l_discount * 100) AS BIGINT) AS l_disc_pct, "
             "CAST(ROUND(l_tax * 100) AS BIGINT) AS l_tax_pct, "
             "l_returnflag, l_linestatus, l_shipdate FROM lineitem "
             "WHERE l_orderkey % 10 = 0")
PTS_SELECT = (f"SELECT c_custkey, c_nationkey, {CX} AS x, {CY} AS y "
              f"FROM customer")
Q6_ASOF = ("SELECT SUM(l_price_cents * l_disc_pct) AS revenue, COUNT(*) AS n "
           "FROM {src} WHERE l_shipdate >= TIMESTAMP '1995-01-01' "
           "AND l_shipdate < TIMESTAMP '1996-01-01' "
           "AND l_disc_pct BETWEEN 5 AND 7 AND l_qty < 24")
ORDERKEY_BASE = 1 << 40


def _lake_batch(rng, n, base):
    """``n`` new line items in the lake table's column order and types."""
    t = data.lineitem_rows(rng, n, orderkey_base=base)
    ok = t["l_orderkey"]
    return pa.table({
        "l_id": pc.add(pc.multiply(ok, 8), pc.cast(t["l_linenumber"], pa.int64())),
        "l_orderkey": ok,
        "l_qty": pc.cast(t["l_quantity"], pa.int64()),
        "l_price_cents": pc.cast(pc.round(pc.multiply(t["l_extendedprice"], 100)),
                                 pa.int64()),
        "l_disc_pct": pc.cast(pc.round(pc.multiply(t["l_discount"], 100)),
                              pa.int64()),
        "l_tax_pct": pc.cast(pc.round(pc.multiply(t["l_tax"], 100)), pa.int64()),
        "l_returnflag": t["l_returnflag"],
        "l_linestatus": t["l_linestatus"],
        "l_shipdate": t["l_shipdate"],
    })


class Lake:
    name = "lake"
    cycle_s = 6.0
    tables = ("customer", "lineitem", "documents")
    declared = PIPELINE_QUERIES

    def setup(self, ctx):
        for t in self.tables:
            ctx.load_view(t)
        self.duck = connect(ctx.data_dir, self.tables)
        self.duck.execute(f"CREATE TABLE {LI} AS {LI_SELECT}")
        self.duck.execute(f"CREATE TABLE {PTS} AS {PTS_SELECT}")
        self.batch_no = 0
        self.asof_expected = {}
        self.round = 0

    def create_tables(self, ctx, suffix):
        """The set-up statements; repeated under fresh names to time them."""
        li, pts = LI + suffix, PTS + suffix
        ctx.sql(f"CREATE TABLE {li} USING ICEBERG AS {LI_SELECT}")
        ctx.sql(f"CREATE TABLE {pts} USING ICEBERG AS "
                f"SELECT /*+ REPARTITION_BY_RANGE(8, x) */ c_custkey, "
                f"c_nationkey, x, y, ST_Point(x, y) AS geo, "
                f"named_struct('xmin', x, 'ymin', y, 'xmax', x, 'ymax', y) "
                f"AS geo_env FROM ({PTS_SELECT})")
        return li, pts

    def use_tables(self, ctx, li, pts):
        self.li, self.pts = li, pts
        self.record_version(ctx)
        self.pts_files = len(self._live(ctx, pts))
        self._listing = None
        self.snapshot_delta(ctx)

    def close(self):
        self.duck.close()

    # -- snapshot bookkeeping (outside the timed operations) --

    def table_dir(self, ctx, name):
        return os.path.join(ctx.warehouse, name)

    def versions(self, ctx, name=None):
        """Retained snapshot versions, read from the table's manifests."""
        snap = os.path.join(self.table_dir(ctx, name or self.li), "_snapshots")
        return sorted(int(f[1:-5]) for f in os.listdir(snap)
                      if f.startswith("v") and f.endswith(".json"))

    def _live(self, ctx, name):
        v = self.versions(ctx, name)[-1]
        path = os.path.join(self.table_dir(ctx, name), "_snapshots", f"v{v}.json")
        with open(path) as fh:
            return set(json.load(fh)["files"])

    SNAPSHOT_METRICS = (
        *((f"snapshots.commit_ms.{k}", "ms") for k in
          ("insert", "update", "delete", "merge", "compact", "zorder", "expire")),
        ("snapshots.commit_p50_ms", "ms"),
        ("snapshots.files_written", "count"),
        ("snapshots.files_rewritten", "count"),
        ("snapshots.data_bytes_written", "B"),
        ("snapshots.metadata_bytes_written", "B"),
        ("snapshots.bytes_written_per_user_byte", "ratio"),
        ("snapshots.live_files", "count"),
        ("snapshots.files_pruned_ratio", "ratio"))

    def snapshot_delta(self, ctx):
        """What the last commit added to the table directory (data files
        and manifests) and which live files it replaced."""
        files = {}
        for root, _dirs, names in os.walk(self.table_dir(ctx, self.li)):
            for n in names:
                p = os.path.join(root, n)
                files[p] = os.path.getsize(p)
        live = self._live(ctx, self.li)
        prev_files, prev_live = self._listing or (files, live)
        self._listing = (files, live)
        new = {p: s for p, s in files.items() if p not in prev_files}
        return {
            "files_written": sum(p.endswith(".parquet") for p in new),
            "data_bytes": sum(s for p, s in new.items() if p.endswith(".parquet")),
            "meta_bytes": sum(s for p, s in new.items() if p.endswith(".json")),
            "files_rewritten": len(prev_live - live),
            "live_files": len(live),
        }

    def snapshot_metrics(self, writes, reads):
        """The ``snapshots.*`` per-layer metrics of a traced run."""
        def ms(rs):
            return 1000 * statistics.median(rs) if rs else 0.0

        snaps = [r for r in writes if "snap" in r]
        total = sum(r["snap"]["data_bytes"] + r["snap"]["meta_bytes"]
                    for r in snaps)
        user = sum(r["user_bytes"] for r in snaps)
        windows = [r["plan"].get("files_read", 0) for r in reads
                   if r["kind"] == "window" and "plan" in r]
        m = {f"snapshots.commit_ms.{k}": ms([r["wall"] for r in writes
                                             if r["kind"] == k])
             for k in ("insert", "update", "delete", "merge", "compact",
                       "zorder", "expire")}
        m.update({
            "snapshots.commit_p50_ms": ms([r["wall"] for r in writes]),
            "snapshots.files_written": sum(r["snap"]["files_written"]
                                           for r in snaps),
            "snapshots.files_rewritten": sum(r["snap"]["files_rewritten"]
                                             for r in snaps),
            "snapshots.data_bytes_written": sum(r["snap"]["data_bytes"]
                                                for r in snaps),
            "snapshots.metadata_bytes_written": sum(r["snap"]["meta_bytes"]
                                                    for r in snaps),
            "snapshots.bytes_written_per_user_byte": total / user if user else 0.0,
            "snapshots.live_files": snaps[-1]["snap"]["live_files"] if snaps else 0,
            "snapshots.files_pruned_ratio": (
                1.0 - sum(windows) / (len(windows) * self.pts_files)
                if windows else 0.0),
        })
        return {k: (m[k], u) for k, u in self.SNAPSHOT_METRICS}

    def record_version(self, ctx):
        """Expected result of the ``VERSION AS OF`` read at the current
        version, taken from the mirror right after the commit."""
        v = self.versions(ctx)[-1]
        self.asof_expected[v] = ctx.canon.duck(
            self.duck.sql(Q6_ASOF.format(src=LI)))

    # -- writes --

    def _write(self, kind, run, mirror=None, user_bytes=0):
        def after(ctx):
            if mirror:
                mirror()
            self.record_version(ctx)

        return Op(kind, run, after=after, write=True, user_bytes=user_bytes)

    def _write_batch(self, ctx, table):
        self.batch_no += 1
        path = os.path.join(ctx.run_dir, "batches", f"b{self.batch_no}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return path, os.path.getsize(path)

    def insert(self, rng, ctx):
        n = max(20, int(20_000 * ctx.sf))
        base = ORDERKEY_BASE + self.batch_no * (1 << 24)
        path, size = self._write_batch(ctx, _lake_batch(rng, n, base))
        li = self.li

        def run(ctx):
            ctx.sql(f"CREATE OR REPLACE TEMP VIEW lake_batch USING parquet "
                    f"OPTIONS (path '{path}')")
            return ctx.sql(f"INSERT INTO {li} SELECT * FROM lake_batch")

        def mirror():
            self.duck.execute(f"INSERT INTO {LI} SELECT * FROM '{path}'")

        return self._write("insert", run, mirror, size)

    def update(self, rng, ctx):
        m = int(rng.choice([7, 11, 13]))
        r, v = int(rng.integers(0, m)), int(rng.integers(0, 11))
        where = f"l_orderkey % {m} = {r}"
        stmt = "UPDATE {t} SET l_disc_pct = %d WHERE %s" % (v, where)
        return self._dml("update", stmt)

    def delete(self, rng, ctx):
        m = int(rng.choice([17, 19, 23]))
        r, q = int(rng.integers(0, m)), int(rng.integers(40, 49))
        stmt = "DELETE FROM {t} WHERE l_orderkey %% %d = %d AND l_qty > %d" % (
            m, r, q)
        return self._dml("delete", stmt)

    def _dml(self, kind, stmt):
        def run(ctx):
            return ctx.sql(stmt.format(t=self.li))

        def mirror():
            self.duck.execute(stmt.format(t=LI))

        return self._write(kind, run, mirror)

    def merge(self, rng, ctx):
        n = max(10, int(5_000 * ctx.sf))
        r = int(rng.integers(0, 97))
        ids = self.duck.sql(f"SELECT DISTINCT l_id FROM {LI} WHERE l_id % 97 = {r} "
                            f"ORDER BY l_id LIMIT {n // 2}").fetchnumpy()["l_id"]
        # the source needs unique keys: about half match existing rows, the
        # rest are new orders of one line each
        base = ORDERKEY_BASE + (1 << 39) + self.batch_no * (1 << 24)
        keys = base + np.arange(n, dtype=np.int64)
        l_id = keys * 8
        l_id[:len(ids)] = ids
        src = (_lake_batch(rng, n, base)
               .set_column(0, "l_id", pa.array(l_id))
               .set_column(1, "l_orderkey", pa.array(keys)))
        path, size = self._write_batch(ctx, src)
        li = self.li

        def run(ctx):
            ctx.sql(f"CREATE OR REPLACE TEMP VIEW lake_src USING parquet "
                    f"OPTIONS (path '{path}')")
            return ctx.sql(f"MERGE INTO {li} t USING lake_src s "
                           f"ON t.l_id = s.l_id WHEN MATCHED THEN UPDATE SET * "
                           f"WHEN NOT MATCHED THEN INSERT *")

        def mirror():
            sets = ", ".join(f"{c} = s.{c}" for c in src.column_names
                             if c != "l_id")
            self.duck.execute(f"CREATE TEMP TABLE src AS SELECT * FROM '{path}'")
            self.duck.execute(f"INSERT INTO {LI} SELECT * FROM src WHERE l_id "
                              f"NOT IN (SELECT l_id FROM {LI})")
            self.duck.execute(f"UPDATE {LI} SET {sets} FROM src s "
                              f"WHERE {LI}.l_id = s.l_id")
            self.duck.execute("DROP TABLE src")

        return self._write("merge", run, mirror, size)

    def rewrite(self, kind):
        extra = (", strategy => 'sort', sort_order => 'zorder(l_orderkey, l_qty)'"
                 if kind == "zorder" else "")

        def run(ctx):
            return ctx.sql(f"CALL system.rewrite_data_files(table => '{self.li}'"
                           f"{extra})")

        return self._write(kind, run)

    def expire(self):
        def run(ctx):
            return ctx.sql(f"CALL system.expire_snapshots(table => '{self.li}', "
                           f"retain_last => 5)")

        return self._write("expire", run)

    # -- reads --

    def q1(self, rng):
        day = 1000 + int(rng.integers(0, 2500))
        cut = str(np.datetime64("1992-01-01") + np.timedelta64(day, "D"))
        sql = ("SELECT l_returnflag, l_linestatus, SUM(l_qty) AS sum_qty, "
               "SUM(l_price_cents) AS sum_price, "
               "SUM(l_price_cents * (100 - l_disc_pct)) AS sum_disc_price, "
               "SUM(l_disc_pct) AS sum_disc, COUNT(*) AS count_order "
               "FROM {t} WHERE l_shipdate <= TIMESTAMP '%s' "
               "GROUP BY l_returnflag, l_linestatus "
               "ORDER BY l_returnflag, l_linestatus" % cut)
        return self._read("q1", sql)

    def q6(self, rng):
        year = 1992 + int(rng.integers(0, 9))
        d = int(rng.integers(2, 9))
        sql = ("SELECT SUM(l_price_cents * l_disc_pct) AS revenue, COUNT(*) AS n "
               "FROM {t} WHERE l_shipdate >= TIMESTAMP '%d-01-01' "
               "AND l_shipdate < TIMESTAMP '%d-01-01' "
               "AND l_disc_pct BETWEEN %d AND %d AND l_qty < 24"
               % (year, year + 1, d - 1, d + 1))
        return self._read("q6", sql)

    def _read(self, kind, sql):
        return Op(kind, lambda ctx: ctx.sql(sql.format(t=self.li)),
                  lambda ctx: ctx.canon.duck(self.duck.sql(sql.format(t=LI))))

    def q6_asof(self, rng):
        box = {}

        def run(ctx):
            vs = self.versions(ctx)
            box["v"] = vs[int(rng.integers(0, len(vs)))]
            return ctx.sql(Q6_ASOF.format(
                src=f"{self.li} VERSION AS OF {box['v']}"))

        return Op("q6_asof", run, lambda ctx: self.asof_expected[box["v"]])

    def window(self, rng):
        x0 = int(rng.integers(-180, 100)) + 0.5
        y0 = int(rng.integers(-90, 40)) + 0.5
        x1, y1 = x0 + int(rng.integers(10, 80)), y0 + int(rng.integers(10, 50))
        sql = (f"SELECT c_custkey FROM {{t}} WHERE ST_Contains("
               f"ST_PolygonFromEnvelope({x0}, {y0}, {x1}, {y1}), geo) "
               f"ORDER BY c_custkey")
        oracle = (f"SELECT c_custkey FROM {PTS} WHERE x > {x0} AND x < {x1} "
                  f"AND y > {y0} AND y < {y1}")
        return Op("window", lambda ctx: ctx.sql(sql.format(t=self.pts)),
                  lambda ctx: ctx.canon.duck(self.duck.sql(oracle)))

    # -- streams --

    def cold(self, rng, ctx):
        writes = [self.insert(rng, ctx), self.update(rng, ctx),
                  self.delete(rng, ctx), self.merge(rng, ctx),
                  self.rewrite("compact"), self.rewrite("zorder"), self.expire()]
        reads = [self.q1(rng), self.q6(rng), self.q6_asof(rng), self.window(rng),
                 *map(_declared, PIPELINE_QUERIES)]
        return _shuffle(rng, writes + reads)

    def cycle(self, rng, ctx):
        self.round += 1
        writes = [self.insert(rng, ctx), self.insert(rng, ctx),
                  self.update(rng, ctx), self.delete(rng, ctx),
                  self.merge(rng, ctx),
                  self.rewrite("zorder" if self.round % 2 else "compact"),
                  self.expire()]
        reads = [self.q1(rng), self.q1(rng), self.q6(rng), self.q6(rng),
                 self.q6_asof(rng), self.window(rng), self.window(rng),
                 *map(_declared, PIPELINE_QUERIES)]
        return _shuffle(rng, writes + reads)


WORKLOADS = {"spatial": Spatial, "lake": Lake}
