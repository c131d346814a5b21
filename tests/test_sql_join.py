"""SQL-text spatial join planning — parity with the reference's
``testSpatialJoin`` (TestSedonaIcebergExtension.scala:109-142): the literal
SQL ``SELECT l.id id_l, r.id id_r FROM test_left l JOIN test_right r ON
ST_Contains(r.geo, l.geo) ORDER BY id_l`` must produce the indexed join plan
(their assert: BroadcastIndexJoin|RangeJoin; ours: a cell equi-join, never
BroadcastNestedLoopJoin/CartesianProduct) and the same two rows."""

import pytest

from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.operators import spatial_sql
from sedona_iceberg_extension_spark.operators.sql_join import _find_spatial_join


REF_SQL = ("SELECT l.id id_l, r.id id_r "
           "FROM test_left l JOIN test_right r "
           "ON ST_Contains(r.geo, l.geo) "
           "ORDER BY id_l")


@pytest.fixture()
def ref_tables(spark):
    # the reference test's exact data (TestSedonaIcebergExtension.scala:110-116)
    spark.sql(
        "SELECT 1 AS id, 'data_1' AS data, ST_Point(CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE)) AS geo "
        "UNION ALL "
        "SELECT 2, 'data_2', ST_Point(CAST(20.0 AS DOUBLE), CAST(20.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_left")
    spark.sql(
        "SELECT 10 AS id, ST_PolygonFromEnvelope(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(15.0 AS DOUBLE), CAST(15.0 AS DOUBLE)) AS geo "
        "UNION ALL "
        "SELECT 20, ST_PolygonFromEnvelope(CAST(15.0 AS DOUBLE), CAST(15.0 AS DOUBLE), CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_right")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_reference_sql_shape_rows_and_plan(spark, ref_tables):
    df = spatial_sql(spark, REF_SQL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = [(r.id_l, r.id_r) for r in df.collect()]
    assert rows == [(1, 10), (2, 20)]


def test_cached_tables_still_plan(spark, ref_tables):
    # reference re-runs the join after CACHE TABLE (scala:129-142)
    spark.sql("CACHE TABLE test_left")
    spark.sql("CACHE TABLE test_right")
    try:
        df = spatial_sql(spark, REF_SQL)
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]
    finally:
        spark.sql("UNCACHE TABLE test_left")
        spark.sql("UNCACHE TABLE test_right")


def test_dwithin_and_extra_conjuncts(spark, ref_tables):
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left l JOIN test_right r "
        "ON ST_DWithin(l.geo, r.geo, 5.0) AND r.id > 10 "
        "WHERE l.id >= 1 "
        "ORDER BY id_l, id_r"))
    # point (20,20) within 5 of box (15,15,25,25) only (point (10,10) is
    # 7.07 away); box 10 filtered out by the extra conjunct
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(2, 20)]


def test_where_group_by_over_rewritten_join(spark, ref_tables):
    df = spatial_sql(spark, (
        "SELECT r.id AS box_id, COUNT(*) AS n "
        "FROM test_left l JOIN test_right r ON ST_Intersects(l.geo, r.geo) "
        "GROUP BY r.id ORDER BY box_id"))
    assert [(r.box_id, r.n) for r in df.collect()] == [(10, 1), (20, 1)]


def test_non_spatial_sql_passthrough(spark, ref_tables):
    df = spatial_sql(spark, "SELECT COUNT(*) AS n FROM test_left")
    assert df.collect()[0].n == 2
    assert _find_spatial_join("SELECT 1") is None


def test_unrecognized_join_falls_back(spark, ref_tables):
    # predicate over an expression (not alias.column) — planner declines,
    # vanilla UDF evaluation still returns the right rows
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left l JOIN test_right r "
        "ON ST_Contains(r.geo, ST_Point(CAST(l.id * 10 AS DOUBLE), CAST(l.id * 10 AS DOUBLE))) "
        "ORDER BY id_l"))
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


@pytest.fixture()
def zone_table(spark):
    spark.sql(
        "SELECT 100 AS id, ST_PolygonFromEnvelope(CAST(5.0 AS DOUBLE), CAST(5.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE)) AS geo"
    ).createOrReplaceTempView("test_zones")


def test_chained_spatial_joins(spark, ref_tables, zone_table):
    # two spatial joins in one statement — both planned, no nested loop
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r, z.id AS id_z "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "JOIN test_zones z ON ST_Contains(z.geo, l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r, r.id_z) for r in df.collect()] == [
        (1, 10, 100), (2, 20, 100)]


def test_chained_with_extra_conjuncts_and_where(spark, ref_tables, zone_table):
    # join-level AND conjunct must stop at the next JOIN keyword, then fold
    # into the statement's WHERE after all joins are planned
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r, z.id AS id_z "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) AND r.id > 15 "
        "JOIN test_zones z ON ST_Intersects(z.geo, r.geo) "
        "WHERE l.id >= 1 ORDER BY id_l"))
    assert [(r.id_l, r.id_r, r.id_z) for r in df.collect()] == [(2, 20, 100)]


def test_alias_free_tables(spark, ref_tables):
    # bare table names are their own aliases
    df = spatial_sql(spark, (
        "SELECT test_left.id AS id_l, test_right.id AS id_r "
        "FROM test_left JOIN test_right ON ST_Contains(test_right.geo, test_left.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_spatial_then_regular_join(spark, ref_tables):
    # a non-spatial equi-join after the spatial join keeps resolving through
    # the pair view's alias structs
    spark.createDataFrame([(10, "north"), (20, "south")], ["box_id", "label"]) \
        .createOrReplaceTempView("test_labels")
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, t.label AS label "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "JOIN test_labels t ON t.box_id = r.id "
        "ORDER BY id_l"))
    assert [(r.id_l, r.label) for r in df.collect()] == [
        (1, "north"), (2, "south")]


def test_declared_query_matches_plain_join(spark, sf_dir):
    from sedona_iceberg_extension_spark.plans.queries import QUERIES

    df = QUERIES["spatial_join_sql"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = [(r.id_l, r.id_r) for r in df.collect()]

    # independent recomputation with plain column algebra
    from sedona_iceberg_extension_spark.sources import load_table
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 360 - 180).cast("double").alias("x"),
        ((F.col("c_custkey") * 7) % 180 - 90).cast("double").alias("y"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 14 - 180).cast("double").alias("bx0"),
        (F.col("n_nationkey") * 14 - 166).cast("double").alias("bx1"))
    exp = cust.join(nation, (F.col("x") > F.col("bx0")) & (F.col("x") < F.col("bx1"))
                    & (F.col("y") > -90.0) & (F.col("y") < 90.0)) \
        .select("c_custkey", "n_nationkey").orderBy("c_custkey", "n_nationkey")
    expected = [(r.c_custkey, r.n_nationkey) for r in exp.collect()]
    assert got == expected


def test_left_outer_spatial_join_sql(spark, ref_tables):
    # point (10,10) is inside box 10, (20,20) inside box 20; add a point in
    # neither box — LEFT JOIN must keep it with a NULL box id
    spark.sql(
        "SELECT * FROM test_left UNION ALL "
        "SELECT 3, 'data_3', ST_Point(CAST(99.0 AS DOUBLE), CAST(99.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_left3")
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left3 l LEFT JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = [(r.id_l, r.id_r) for r in df.collect()]
    assert rows == [(1, 10), (2, 20), (3, None)]


@pytest.mark.parametrize("pred_sql", [
    "ST_Contains(b.geo, p.geo)",
    "ST_Intersects(p.geo, b.geo)",
    "ST_DWithin(p.geo, q.geo, 7.5)",
])
def test_rewriter_equals_vanilla_on_random_data(spark, pred_sql):
    """The planned join must return exactly the rows the unplanned (UDF
    nested-loop) evaluation returns — seeded random points and boxes, every
    supported predicate family."""
    import numpy as np
    rng = np.random.default_rng(42)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform(-50, 50, size=(120, 2)))]
    spark.createDataFrame(pts, "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("rnd_p")
    spark.createDataFrame(pts[:40], "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("rnd_q")
    boxes = []
    for i, (x, y, w, h) in enumerate(np.c_[rng.uniform(-50, 40, (25, 2)),
                                           rng.uniform(1, 15, (25, 2))]):
        boxes.append((int(i), float(x), float(y), float(x + w), float(y + h)))
    spark.createDataFrame(
        boxes, "id long, x0 double, y0 double, x1 double, y1 double") \
        .selectExpr("id", "ST_PolygonFromEnvelope(x0, y0, x1, y1) AS geo") \
        .createOrReplaceTempView("rnd_b")

    right = "rnd_q q" if "q.geo" in pred_sql else "rnd_b b"
    other = "q" if "q.geo" in pred_sql else "b"
    sql = (f"SELECT p.id AS id_p, {other}.id AS id_o "
           f"FROM rnd_p p JOIN {right} ON {pred_sql} ORDER BY id_p, id_o")
    planned = [(r.id_p, r.id_o) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_p, r.id_o) for r in spark.sql(sql).collect()]
    assert planned == vanilla and len(vanilla) > 0


# --- the reference App's comma-join spelling (App.scala:62-64,72-73,77) ----

APP_COMMA_SQL = ("SELECT l.id AS id_l, r.id AS id_r "
                 "FROM test_left l, test_right r "
                 "WHERE ST_Contains(r.geo, l.geo) ORDER BY id_l")


def test_app_comma_join_rows_and_plan(spark, ref_tables):
    df = spatial_sql(spark, APP_COMMA_SQL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_app_comma_join_with_residual_conjunct(spark, ref_tables):
    # App.scala:63-64 — the second statement adds a constant-envelope range
    # conjunct after the join predicate; it must filter, not break planning
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
        "WHERE ST_Contains(r.geo, l.geo) "
        "AND ST_Contains(ST_PolygonFromEnvelope(15.0, 15.0, 30.0, 30.0), l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(2, 20)]


def test_comma_join_top_level_or_falls_through(spark, ref_tables):
    """AND binds tighter than OR: 'ST AND x OR z' is not a conjunction, so
    the comma-join rewrite must skip and vanilla evaluation (which keeps
    cross-join rows satisfying only z) must win."""
    sql = ("SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) AND l.id = 1 OR r.id = 20 "
           "ORDER BY id_l, id_r")
    planned = [(r.id_l, r.id_r) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_l, r.id_r) for r in spark.sql(sql).collect()]
    assert planned == vanilla
    assert planned == [(1, 10), (1, 20), (2, 20)]  # (2,20) only via z


def test_comma_join_parenthesized_or_still_plans(spark, ref_tables):
    """OR inside parens IS a conjunct — the rewrite must still fire."""
    sql = ("SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) AND (l.id = 1 OR r.id = 20) "
           "ORDER BY id_l, id_r")
    df = spatial_sql(spark, sql)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_comma_join_select_star_flattens(spark, ref_tables):
    """The App's verbatim statements are 'SELECT * FROM t0 l, t1 r WHERE
    ST_...' (App.scala:62-73): the rewrite must keep returning the flat
    column set, not the pair view's alias structs."""
    sql = ("SELECT * FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns  # id, data, geo, id, geo
    assert not any("." in str(f.dataType) and f.dataType.typeName() == "struct"
                   for f in planned.schema)
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]
    plan = _plan(planned)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_comma_join_alias_star_flattens(spark, ref_tables):
    sql = ("SELECT l.*, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns  # id, data, geo, id_r
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]


def test_join_on_select_star_flattens(spark, ref_tables):
    """Same contract for the JOIN ... ON spelling."""
    sql = ("SELECT * FROM test_left l JOIN test_right r "
           "ON ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]


def test_comma_join_matches_vanilla_random(spark):
    """Comma spelling over seeded random data: planned result == vanilla."""
    import numpy as np
    rng = np.random.default_rng(7)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform(-50, 50, size=(100, 2)))]
    spark.createDataFrame(pts, "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("cm_p")
    boxes = []
    for i, (x, y, w, h) in enumerate(np.c_[rng.uniform(-50, 40, (20, 2)),
                                           rng.uniform(1, 15, (20, 2))]):
        boxes.append((int(i), float(x), float(y), float(x + w), float(y + h)))
    spark.createDataFrame(
        boxes, "id long, x0 double, y0 double, x1 double, y1 double") \
        .selectExpr("id", "ST_PolygonFromEnvelope(x0, y0, x1, y1) AS geo") \
        .createOrReplaceTempView("cm_b")
    sql = ("SELECT p.id AS id_p, b.id AS id_b FROM cm_p p, cm_b b "
           "WHERE ST_Contains(b.geo, p.geo) AND p.id % 3 != 1 "
           "ORDER BY id_p, id_b")
    planned = [(r.id_p, r.id_b) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_p, r.id_b) for r in spark.sql(sql).collect()]
    assert planned == vanilla and len(vanilla) > 0


# -- SQL-text views: joins read the view's twin (native envelope, no Python) --

TWIN_BOX = "ST_PolygonFromEnvelope(-5.0, -5.0, 5.0, 5.0)"


@pytest.fixture()
def twin_views(spark):
    """SQL-text views over random integer coordinates (boundary ties), with
    NULL and NaN coordinates and boxes whose corners come in either order."""
    import random

    rnd = random.Random(7)
    nan = float("nan")

    def coord():
        r = rnd.random()
        return None if r < 0.05 else nan if r < 0.1 else float(rnd.randint(-10, 10))

    spark.createDataFrame(
        [(i, coord(), coord()) for i in range(160)],
        "id INT, x DOUBLE, y DOUBLE").createOrReplaceTempView("tw_pts_src")
    spark.createDataFrame(
        [(i, coord(), coord(), coord(), coord()) for i in range(40)],
        "id INT, a DOUBLE, b DOUBLE, c DOUBLE, d DOUBLE") \
        .createOrReplaceTempView("tw_box_src")
    spark.sql("CREATE OR REPLACE TEMP VIEW tw_pts AS "
              "SELECT id, ST_Point(x, y) AS geo FROM tw_pts_src")
    spark.sql("CREATE OR REPLACE TEMP VIEW tw_pts2 AS "
              "SELECT id AS id2, ST_Point(x, y) AS geo FROM tw_pts_src "
              "WHERE id % 2 = 0")
    spark.sql("CREATE OR REPLACE TEMP VIEW tw_boxes AS "
              "SELECT id, ST_PolygonFromEnvelope(a, b, c, d) AS geo "
              "FROM tw_box_src")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("stmt", [
    "SELECT l.id AS a, r.id2 AS b FROM tw_pts l JOIN tw_pts2 r "
    "ON ST_DWithin(l.geo, r.geo, 2.0)",
    "SELECT b.id AS bid, p.id AS pid FROM tw_boxes b JOIN tw_pts p "
    "ON ST_Contains(b.geo, p.geo)",
    "SELECT b.id AS bid, p.id AS pid FROM tw_pts p, tw_boxes b "
    "WHERE ST_Contains(b.geo, p.geo)",
    f"SELECT l.id AS id_l, r.id2 AS id_r FROM tw_pts l JOIN tw_pts2 r "
    f"ON ST_DWithin(l.geo, r.geo, 2.0) "
    f"WHERE ST_Contains({TWIN_BOX}, l.geo) ORDER BY id_l, id_r",
])
def test_twin_join_matches_udf_path(spark, twin_views, stmt):
    got = spatial_sql(spark, stmt)
    plan = _plan(got)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    want = _rows(spark.sql(stmt))          # every ST_* evaluated by its UDF
    assert _rows(got) == want and want


def test_twin_template_shape_has_no_python(spark, twin_views):
    stmt = (f"SELECT l.id AS id_l, r.id2 AS id_r FROM tw_pts l JOIN tw_pts2 r "
            f"ON ST_DWithin(l.geo, r.geo, 2.0) "
            f"WHERE ST_Contains({TWIN_BOX}, l.geo) ORDER BY id_l, id_r")
    df = spatial_sql(spark, stmt)
    rows = [tuple(r) for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert rows == [tuple(r) for r in spark.sql(stmt).collect()]


def test_twin_env_never_in_star_output(spark, twin_views):
    on = "ON ST_DWithin(l.geo, r.geo, 2.0)"
    df = spatial_sql(spark, f"SELECT * FROM tw_pts l JOIN tw_pts2 r {on}")
    assert df.columns == ["id", "geo", "id2", "geo"]
    df = spatial_sql(spark, f"SELECT l.* FROM tw_pts l JOIN tw_pts2 r {on}")
    assert df.columns == ["id", "geo"]
    df = spatial_sql(spark, "SELECT * FROM tw_pts l, tw_pts2 r "
                            "WHERE ST_DWithin(l.geo, r.geo, 2.0)")
    assert df.columns == ["id", "geo", "id2", "geo"]
    # a trailing non-spatial join leaves * unexpanded (alias structs): the
    # statement is planned again without twins
    df = spatial_sql(spark, f"SELECT * FROM tw_pts l JOIN tw_pts2 r {on} "
                            f"JOIN tw_pts_src s ON l.id = s.id")
    assert "geo_env" not in df.schema.simpleString()
    assert df.count() == spark.sql(
        f"SELECT * FROM tw_pts l JOIN tw_pts2 r {on} "
        f"JOIN tw_pts_src s ON l.id = s.id").count()


@pytest.mark.parametrize("view_sql", [
    "SELECT id, ST_Point(x, y) AS geo FROM tw_pts_src WHERE id < 80 "
    "UNION ALL SELECT id, ST_Point(x, y) AS geo FROM tw_pts_src WHERE id >= 80",
    "SELECT DISTINCT id, ST_Point(x, y) AS geo FROM tw_pts_src",
    "SELECT id, ST_Point(x, y) AS geo FROM tw_pts_src GROUP BY id, x, y",
    "SELECT id, ST_Point(x, y) AS geo, "
    "named_struct('xmin', x, 'ymin', y, 'xmax', x, 'ymax', y) AS geo_env "
    "FROM tw_pts_src",
    "SELECT id, ST_Point(id % 21 - 10, id % 7 - 3) AS geo FROM tw_pts_src",
])
def test_twin_not_built_for_other_views(spark, twin_views, view_sql):
    from sedona_iceberg_extension_spark.operators.sql_join import _view_twin

    spark.sql(f"CREATE OR REPLACE TEMP VIEW tw_other AS {view_sql}")
    assert _view_twin(spark, "tw_other", spark.table("tw_other"), "geo") is None
    stmt = ("SELECT o.id AS a, r.id2 AS b FROM tw_other o JOIN tw_pts2 r "
            "ON ST_DWithin(o.geo, r.geo, 2.0)")
    assert _rows(spatial_sql(spark, stmt)) == _rows(spark.sql(stmt))


def test_twin_only_for_sql_text_temp_views(spark, twin_views):
    from sedona_iceberg_extension_spark.operators.sql_join import _view_twin

    spark.table("tw_pts").createOrReplaceTempView("tw_df_view")
    assert _view_twin(spark, "tw_df_view", spark.table("tw_df_view"), "geo") is None
    twin = _view_twin(spark, "tw_boxes", spark.table("tw_boxes"), "geo")
    assert twin.columns == ["id", "geo", "geo_env"]
    assert twin.schema["geo"].metadata["geom_shape"] == "rects"
    # the envelope is NULL exactly where the constructor is
    rows = twin.selectExpr("id", "geo IS NULL", "geo_env").collect()
    src = {r.id: r for r in spark.table("tw_box_src").collect()}
    for r in rows:
        assert (r[1]) == (r.geo_env is None)
        if r.geo_env is not None:
            s = src[r.id]
            assert tuple(r.geo_env) == (min(s.a, s.c), min(s.b, s.d),
                                        max(s.a, s.c), max(s.b, s.d))


def test_twin_hint_does_not_reach_a_ctas_table(spark, twin_views, tmp_path,
                                               monkeypatch):
    """A twin's shape hint describes the view's rows as read now; a table
    built from a twin join must not persist it as a promise about rows a
    later INSERT adds."""
    from sedona_iceberg_extension_spark.session import sql

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    stmt = ("SELECT l.id AS id, l.geo AS geo FROM tw_pts l JOIN tw_pts2 r "
            "ON ST_DWithin(l.geo, r.geo, 2.0)")
    assert "geom_shape" not in spatial_sql(spark, stmt).schema["geo"].metadata
    sql(spark, f"CREATE TABLE tw_ctas USING ICEBERG AS {stmt}")
    try:
        assert "geom_shape" not in spark.table("tw_ctas").schema["geo"].metadata
    finally:
        sql(spark, "DROP TABLE tw_ctas")
