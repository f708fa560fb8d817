"""Sources/sinks, registry, pipeline export, and plan-introspection tests."""

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from systems_spark import ColumnSchema, Pipeline, Schema
from systems_spark.operators import Rename, SelectColumns
from systems_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    has_sort_merge_join,
    pushed_filters,
    salted_group_count,
    scan_columns,
)
from systems_spark.registry import FileSystemModelRegistry
from systems_spark.sources import FeatureTable, read_csv, read_parquet, write_parquet


def test_read_csv_headerless_requires_schema(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("1,foo\n2,bar\n")
    with pytest.raises(ValueError, match="explicit schema"):
        read_csv(spark, p, header=False)
    df = read_csv(spark, p, schema="id int, name string", header=False)
    assert sorted(map(tuple, df.collect())) == [(1, "foo"), (2, "bar")]


def test_csv_roundtrip_with_header(spark, tmp_path):
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    p = str(tmp_path / "csv_out")
    src.write.option("header", "true").mode("overwrite").csv(p)
    back = read_csv(spark, p, schema="id int, v string", header=True)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]


def test_json_orc_roundtrip(spark, tmp_path, tables):
    """JSON-lines and ORC sinks/scans round-trip values; JSON without an
    explicit schema is refused."""
    from systems_spark.sources import read_json, read_orc, write_json, write_orc

    li = tables["lineitem"].select("l_orderkey", "l_quantity").limit(50)
    jp, op_ = str(tmp_path / "j"), str(tmp_path / "o")
    write_json(li, jp)
    write_orc(li, op_)
    want = sorted(map(tuple, li.collect()))
    got_j = sorted(map(tuple, read_json(
        spark, jp, schema="l_orderkey long, l_quantity double").collect()))
    got_o = sorted(map(tuple, read_orc(spark, op_).collect()))
    assert got_j == want and got_o == want

    with pytest.raises(ValueError, match="explicit schema"):
        read_json(spark, jp)


def test_write_parquet_partitioned(spark, tmp_path, tables):
    p = str(tmp_path / "part_out")
    write_parquet(tables["region"], p, partition_by=["r_regionkey"])
    names = os.listdir(p)
    assert any(n.startswith("r_regionkey=") for n in names)
    back = read_parquet(spark, p)
    assert back.count() == 5


def test_read_with_quarantine_splits_malformed(spark, tmp_path):
    """Malformed lines land in the bad branch with their raw text; good
    rows carry the declared schema; nothing is silently nulled or
    dropped. CSV and JSON variants."""
    from systems_spark.sources import read_with_quarantine

    jp = str(tmp_path / "in.json")
    with open(jp, "w") as f:
        f.write('{"id": 1, "v": "a"}\n'
                'THIS IS NOT JSON\n'
                '{"id": 2, "v": "b"}\n'
                '{"id": "not-a-number", "v": "c"}\n')
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.StringType())])
    good, bad, raw = read_with_quarantine(spark, jp, schema, format="json")
    assert "_corrupt_record" not in schema.fieldNames()  # caller schema untouched
    assert good.columns == ["id", "v"]
    assert sorted((r.id, r.v) for r in good.collect()) == [(1, "a"), (2, "b")]
    bad_rows = bad.collect()
    assert len(bad_rows) == 2
    texts = {r._corrupt_record for r in bad_rows}
    assert any("NOT JSON" in t for t in texts)
    assert any("not-a-number" in t for t in texts)

    cp = str(tmp_path / "in.csv")
    with open(cp, "w") as f:
        f.write("1,a\nnope,b,extra,columns\n3,c\n")
    csv_schema = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("v", T.StringType())])
    good_c, bad_c, raw_c = read_with_quarantine(spark, cp, csv_schema,
                                              format="csv", header="false")
    assert sorted((r.id, r.v) for r in good_c.collect()) == [(1, "a"), (3, "c")]
    assert bad_c.count() == 1
    raw.unpersist()
    raw_c.unpersist()

    with pytest.raises(ValueError, match="StructType"):
        read_with_quarantine(spark, jp, None, format="json")
    with pytest.raises(ValueError, match="json/csv"):
        read_with_quarantine(spark, jp, schema, format="parquet")


def test_feature_table_latest_and_asof(spark, tmp_path):
    rows = [(1, 10, "v1"), (1, 20, "v2"), (2, 15, "w1")]
    df = spark.createDataFrame(rows, "entity long, event_time long, val string")
    p = str(tmp_path / "feat")
    df.write.parquet(p)
    ft = FeatureTable(spark, p, "entity", "event_time")
    latest = {r.entity: r.val for r in ft.latest().collect()}
    assert latest == {1: "v2", 2: "w1"}
    asof = {r.entity: r.val for r in ft.as_of(12).collect()}
    assert asof == {1: "v1"}  # entity 2 has nothing at-or-before t=12


def test_filesystem_registry(tmp_path):
    base = tmp_path / "models" / "ranker"
    (base / "1").mkdir(parents=True)
    (base / "3").mkdir()
    reg = FileSystemModelRegistry(str(tmp_path / "models"), "ranker")
    assert reg.get_artifact_uri().endswith("ranker/3")
    reg1 = FileSystemModelRegistry(str(tmp_path / "models"), "ranker", version=1)
    assert reg1.get_artifact_uri().endswith("ranker/1")
    with pytest.raises(FileNotFoundError):
        FileSystemModelRegistry(str(tmp_path / "models"), "ranker", version=9).get_artifact_uri()


def test_pipeline_export_metadata(spark, tmp_path):
    pipe = Pipeline([SelectColumns(["a"]), Rename(postfix="_y", columns=["a"])])
    schema = Schema.from_struct_type(T.StructType([T.StructField("a", T.LongType())]))
    d = str(tmp_path / "exported")
    pipe.export(d, input_schema=schema)
    import json

    meta = json.load(open(os.path.join(d, "metadata.json")))
    out_fields = [f["name"] for f in meta["output_schema"]["fields"]]
    assert out_fields == ["a_y"]
    loaded = Pipeline.load(d, spark=spark)
    assert len(loaded.operators) == 2


def test_export_config_sweep_every_op_type(spark, tables, tmp_path):
    """Reference-style export-config verification (reference writes
    config.pbtxt and asserts names/backends/dims per op —
    runtimes/triton/runtime.py:89-219, tests/unit/systems/ops/fil/
    test_op.py:33-49): parse the exported plan + metadata for a pipeline
    containing one of EVERY persistable op family and assert operator
    identity, artifact presence, and full dtype/dims schema contract."""
    import json

    from systems_spark.operators import (
        Categorify,
        DropColumns,
        Padding,
        PredictForest,
        QueryFeatureTable,
    )
    from systems_spark.operators.filter_candidates import (
        FilterCandidatesRelational,
    )

    docs = tables["customer"].select(
        "c_custkey", "c_mktsegment",
        F.col("c_acctbal").cast("float").alias("f0"),
        (F.col("c_custkey") % 3).cast("float").alias("f1"),
    ).limit(300)
    feature_tbl = tables["customer"].select(
        F.col("c_custkey"), F.col("c_name").alias("feat_name")
    )
    seen = tables["customer"].select("c_custkey").where(F.col("c_custkey") % 11 == 0)
    forest = __import__("types").SimpleNamespace(
        predict=__import__("functools").partial(
            __import__("numpy").sum, axis=1
        )
    )

    pipe = Pipeline([
        Categorify(["c_mktsegment"]),
        FilterCandidatesRelational(seen, on="c_custkey"),
        QueryFeatureTable(feature_tbl, "c_custkey", features=["feat_name"]),
        PredictForest(forest, ["f0", "f1"]),
        DropColumns(["feat_name"]),
    ], sparse_max=None)
    pipe.fit(docs)

    in_schema = Schema([
        ColumnSchema("c_custkey", "int64"),
        ColumnSchema("c_mktsegment", "string"),
        ColumnSchema("f0", "float32"),
        ColumnSchema("f1", "float32"),
    ])
    d = str(tmp_path / "exported")
    pipe.export(d, input_schema=in_schema)

    # --- plan contract: every op recorded with class identity; stateful /
    # model ops carry artifact dirs that actually exist on disk
    plan = json.load(open(os.path.join(d, "pipeline.json")))
    classes = [e["cls"] for e in plan["operators"]]
    assert classes == [
        "Categorify", "FilterCandidatesRelational", "QueryFeatureTable",
        "PredictForest", "DropColumns",
    ]
    with_artifacts = {
        e["cls"] for e in plan["operators"] if "artifacts" in e
    }
    assert {"Categorify", "PredictForest"} <= with_artifacts
    for e in plan["operators"]:
        if "artifacts" in e:
            assert os.path.isdir(os.path.join(d, e["artifacts"])), e

    # --- schema contract: parse metadata.json and assert names AND dtypes
    meta = json.load(open(os.path.join(d, "metadata.json")))
    in_fields = {f["name"]: f["type"] for f in meta["input_schema"]["fields"]}
    assert in_fields == {
        "c_custkey": "long", "c_mktsegment": "string",
        "f0": "float", "f1": "float",
    }
    out_fields = {f["name"]: f["type"] for f in meta["output_schema"]["fields"]}
    assert out_fields["c_mktsegment"] == "long"  # categorified → codes
    assert out_fields["output__0"] == "float"    # forest score
    assert "feat_name" not in out_fields         # dropped

    # --- roundtrip: loaded pipeline rescoring matches the original
    before = sorted(
        (r.c_custkey, round(float(r.output__0), 4))
        for r in pipe.transform(docs).collect()
    )
    loaded = Pipeline.load(d, spark=spark)
    after = sorted(
        (r.c_custkey, round(float(r.output__0), 4))
        for r in loaded.transform(docs).collect()
    )
    assert before == after and len(before) > 0


def test_export_dims_contract_for_list_columns(spark, tmp_path):
    """dims/list-ness survive export: a padded ragged column exports with
    fixed dims metadata (the reference's values/offsets shape contract,
    triton/export.py:27-45 — here ArrayType + dims in field metadata)."""
    import json

    pipe = Pipeline([], sparse_max={"tokens": 6}, sparse_fill="")
    in_schema = Schema([
        ColumnSchema("doc_id", "int64"),
        ColumnSchema("tokens", "string", is_list=True, dims=(None, None)),
    ])
    d = str(tmp_path / "exported_dims")
    pipe.export(d, input_schema=in_schema)
    meta = json.load(open(os.path.join(d, "metadata.json")))
    tok = next(f for f in meta["output_schema"]["fields"] if f["name"] == "tokens")
    assert tok["type"]["type"] == "array"
    assert tok["type"]["elementType"] == "string"
    assert tok["metadata"]["dims"] == [-1, 6]  # -1 encodes the None wildcard


# -- plan introspection ----------------------------------------------------

def test_pushdown_and_pruning_visible(spark, tables):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert any("l_quantity" in f for f in pushed_filters(df))
    cols = scan_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}  # pruned scan


def test_broadcast_vs_smj_detection(spark, tables):
    small = tables["region"]
    big = tables["customer"]
    b = big.join(F.broadcast(small), big.c_nationkey == small.r_regionkey)
    assert has_broadcast_join(b)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        s = big.join(small.hint("merge"), big.c_nationkey == small.r_regionkey)
        assert has_sort_merge_join(s)
        assert count_exchanges(s) >= 2  # both sides shuffle
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_needs_no_shuffle(spark, tables):
    """The `write_bucketed_table` scale claim, proven in the plan: two
    tables bucketed on the join key with the same bucket count sort-merge
    join with ZERO Exchange — the bucketing output partitioning satisfies
    the join's distribution requirement at planning time. The identical
    join over plain parquet shuffles both sides."""
    from systems_spark.sources import write_bucketed_table

    import shutil

    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    for t in ("b_orders", "b_lineitem"):  # clear any stale location
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(
            os.path.join(spark.conf.get("spark.sql.warehouse.dir")
                         .removeprefix("file:"), t),
            ignore_errors=True)
    write_bucketed_table(orders, "b_orders", "o_orderkey", 4)
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
        "o_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(bl, "o_orderkey")
        assert has_sort_merge_join(joined)
        assert count_exchanges(joined) == 0  # co-located: no shuffle at all
        # same join over the unbucketed frames shuffles both sides
        plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        assert count_exchanges(plain) >= 2
        # and the bucketed join is not just pretty — it computes the join
        assert joined.count() == plain.count()
        # groupBy on the bucket column also rides the bucketing: no shuffle
        agg = bo.groupBy("o_orderkey").agg(F.sum("o_totalprice").alias("s"))
        assert count_exchanges(agg) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_sorted_write_layout_enables_stats_pruning(spark, tmp_path, tables):
    """write_sorted_parquet range-clusters the data: per-file min/max
    footer statistics for the sort column are (nearly) disjoint, so a
    selective filter touches one file instead of all of them. The same
    data written unsorted overlaps on every file — the stats prune
    nothing. Verified from the real parquet footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from systems_spark.sources import write_sorted_parquet

    ev = tables["events"].select("event_id", "user_id", "value")
    sorted_path, plain_path = str(tmp_path / "sorted"), str(tmp_path / "plain")
    write_sorted_parquet(ev, sorted_path, "user_id", n_files=4)
    ev.repartition(4).write.parquet(plain_path)

    def file_ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(1).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(1).statistics.max
                     for i in range(md.num_row_groups))
            out.append((lo, hi))
        return sorted(out)

    srt, plain = file_ranges(sorted_path), file_ranges(plain_path)
    assert len(srt) == 4
    # sorted layout: ranges are disjoint (each file owns its key slice)
    for (_, hi), (lo, _) in zip(srt, srt[1:]):
        assert hi <= lo, srt
    # unsorted layout: every file spans (almost) the whole key domain
    overlapping = sum(
        1 for (_, hi), (lo, _) in zip(plain, plain[1:]) if hi > lo
    )
    assert overlapping == len(plain) - 1, plain
    # a point predicate can only match one file's range in the sorted
    # layout; in the plain layout it falls inside every file's range
    probe = srt[1][0]
    assert sum(1 for lo, hi in srt if lo <= probe <= hi) <= 2
    assert sum(1 for lo, hi in plain if lo <= probe <= hi) == len(plain)
    # and the sorted copy is the same data
    assert spark.read.parquet(sorted_path).count() == ev.count()


def test_compact_parquet_small_files(spark, tmp_path):
    """Many tiny files in, few files out, identical data, no shuffle in
    the copy plan (coalesce is a narrow repartition)."""
    import glob

    from systems_spark.sources import compact_parquet

    src, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    df = spark.range(5000).select(F.col("id"), (F.col("id") % 7).alias("g"))
    df.repartition(40).write.parquet(src)  # 40 tiny files (a month of batches)
    n_in = len(glob.glob(f"{src}/*.parquet"))
    assert n_in >= 40

    total = sum(os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet"))
    n_out = compact_parquet(spark, src, dest,
                            target_file_bytes=max(total // 3, 1))
    files_out = glob.glob(f"{dest}/*.parquet")
    assert len(files_out) == n_out <= 4
    # identical data
    assert sorted(map(tuple, spark.read.parquet(dest).collect())) == \
        sorted(map(tuple, df.collect()))
    # the copy plan is shuffle-free
    assert count_exchanges(spark.read.parquet(src).coalesce(n_out)) == 0

    with pytest.raises(ValueError, match="differ from src"):
        compact_parquet(spark, src, src)
    with pytest.raises(ValueError, match="positive"):
        compact_parquet(spark, src, dest + "2", target_file_bytes=0)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs lexicographic two-column sort, measured from real
    parquet footers: lexicographic (a, b) gives b the full domain in
    every file (a narrow b-predicate overlaps ~all files); the Morton
    layout gives every file a bounding box in BOTH dimensions, so the
    same predicate prunes most files — while a-pruning stays effective
    in both layouts."""
    import glob

    import pyarrow.parquet as pq

    from systems_spark.sources import write_sorted_parquet, write_zordered_parquet

    n = 65536  # full 256x256 grid: genuinely independent dimensions
    df = spark.range(n).select(
        ((F.col("id") % 256) * 256).alias("a"),
        ((F.col("id") / 256).cast("long") * 256).alias("b"),
    )
    zp, lp = str(tmp_path / "zord"), str(tmp_path / "lex")
    write_zordered_parquet(df, zp, ["a", "b"], n_files=16)
    write_sorted_parquet(df, lp, ["a", "b"], n_files=16)

    def ranges(path, col_idx):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(col_idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max
                     for i in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    def overlapping(path, col_idx, lo, hi):
        return sum(1 for fl, fh in ranges(path, col_idx)
                   if fh >= lo and fl <= hi)

    # ~5% band inside ONE Morton block row ([16384, 32768) at 16 files =
    # a 4x4 block grid): the ideal overlap is the 4 blocks of that row
    # plus range-boundary slop — straddling a row boundary would add the
    # neighboring row's 4 blocks, still far under lexicographic's 16
    band = (20000, 23000)
    z_b = overlapping(zp, 1, *band)
    lex_b = overlapping(lp, 1, *band)
    assert lex_b >= 15, lex_b   # lexicographic: b prunes nothing
    assert z_b <= 7 and z_b < lex_b, (z_b, lex_b)
    # the a dimension prunes in both layouts
    assert overlapping(zp, 0, *band) <= 8
    assert overlapping(lp, 0, *band) <= 2  # pure range: hardest a-pruning
    # same data, key column not persisted
    back = spark.read.parquet(zp)
    assert back.columns == ["a", "b"] and back.count() == n

    from systems_spark.sources import zorder_key
    with pytest.raises(ValueError, match="fit a long"):
        zorder_key(df, ["a", "b"], bits=32)


def test_configure_for_scale_applies_posture(spark):
    """configure_for_scale codifies SCALE.md's global posture; settings
    land in the session and the applied dict reports them."""
    from systems_spark.plans import configure_for_scale

    before = {
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.files.maxPartitionBytes":
            spark.conf.get("spark.sql.files.maxPartitionBytes"),
    }
    try:
        applied = configure_for_scale(spark, total_cores=8000,
                                      max_partition_bytes=32 * 1024 * 1024)
        assert applied["spark.sql.shuffle.partitions"] == "16000"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16000"
        assert spark.conf.get("spark.sql.files.maxPartitionBytes") == \
            str(32 * 1024 * 1024)
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        # floor keeps small sessions sane
        assert configure_for_scale(spark, total_cores=4)[
            "spark.sql.shuffle.partitions"] == "64"
        import pytest as _pytest
        with _pytest.raises(ValueError, match="total_cores"):
            configure_for_scale(spark, total_cores=0)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_partition_pruning_on_partitioned_write(spark, tmp_path, tables):
    """Hive-partitioned writes enable partition pruning: a filter on the
    partition column appears as PartitionFilters and non-matching
    directories are never read."""
    from systems_spark.plans import formatted_plan
    from systems_spark.sources import write_parquet

    ev = tables["events"].select(
        "event_id", "user_id", "value",
        F.pmod(F.col("user_id"), F.lit(8)).alias("shard"),
    )
    path = str(tmp_path / "sharded")
    write_parquet(ev, path, partition_by=["shard"])

    scan = spark.read.parquet(path).where(F.col("shard") == 3)
    plan = formatted_plan(scan)
    assert "PartitionFilters" in plan
    # the pruned scan reads exactly the one shard
    assert scan.select("shard").distinct().collect()[0].shard == 3
    full = spark.read.parquet(path).count()
    pruned = scan.count()
    assert 0 < pruned < full


def test_headline_query_plan_shapes(spark):
    """Plan-quality regression gate for headline queries: predicate
    pushdown reaches the scan, column pruning holds, dim joins broadcast,
    and nothing degenerates to a cartesian product. A silent plan
    regression here is a 100× cost at scale even when results stay
    correct."""
    import __spark_entry__ as entrymod
    from systems_spark.plans import (
        assert_no_cartesian,
        has_broadcast_join,
        pushed_filters,
        scan_columns,
    )

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()

    pricing = qs["pricing_summary"](spark, sf)
    assert any("l_shipdate" in f for f in pushed_filters(pricing)), \
        "shipdate filter must reach the parquet scan"
    cols = scan_columns(pricing)
    assert "l_orderkey" not in cols, "unused columns must be pruned from scan"

    region = qs["region_revenue"](spark, sf)
    assert has_broadcast_join(region), "dim joins must broadcast"
    assert_no_cartesian(region)

    feature = qs["query_feature_table"](spark, sf)
    assert has_broadcast_join(feature), "feature lookup must broadcast"

    # four-stage flagship: no cartesian anywhere in the composed graph
    assert_no_cartesian(qs["four_stage_recs"](spark, sf))


def test_ann_exact_ranking_shuffles_queries_not_scores(spark):
    """QueryANN exact: the only hash exchange must sit BEFORE the
    cross join (Q query rows), never after scoring (Q×N rows) — the
    ranking window's distribution requirement is satisfied by
    pre-clustering the query side. Also asserts Spark's WindowGroupLimit
    partial top-k kicked in (caps per-partition rows at topk pre-window).
    The exchange takes a partition count (one per core), which AQE
    never coalesces, so the scoring stage runs on every core."""
    from pyspark.sql import functions as F

    from systems_spark.operators.ann import QueryANN

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    op = QueryANN(emb, item_id_col="vec_id", item_vec_col="embedding",
                  query_vec_col="qvec", query_id_col="query_id", topk=5)
    plan = op(queries)._jdf.queryExecution().executedPlan().toString()

    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    # the one exchange is the query-side REPARTITION, not a window shuffle
    assert "REPARTITION_BY_NUM" in plan, plan


def test_salted_group_count_equals_plain(spark, tables):
    li = tables["lineitem"]
    plain = {r.l_returnflag: r.n for r in
             li.groupBy("l_returnflag").agg(F.count(F.lit(1)).cast("long").alias("n")).collect()}
    salted = {r.l_returnflag: r.n for r in
              salted_group_count(li, "l_returnflag", n_salts=8).collect()}
    assert plain == salted


def test_salted_join_equals_plain(spark, tables):
    """Salted join must be row-for-row identical to the plain join —
    including duplicate keys on both sides (multiplicity check) and
    unmatched left rows under how='left'."""
    from systems_spark.plans import salted_join

    li = tables["lineitem"].select("l_orderkey", "l_partkey").limit(2000)
    orders = tables["orders"].select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(orders, on="l_orderkey", how="inner")
    salted = salted_join(li, orders, "l_orderkey", n_salts=8, how="inner")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))

    # left join keeps unmatched rows exactly once
    li_with_orphans = li.union(
        spark.createDataFrame([(-1, -1), (-1, -2)], "l_orderkey long, l_partkey long")
    )
    plain_l = li_with_orphans.join(orders, on="l_orderkey", how="left")
    salted_l = salted_join(li_with_orphans, orders, "l_orderkey", n_salts=8, how="left")
    assert sorted(map(tuple, plain_l.collect())) == \
        sorted(map(tuple, salted_l.collect()))

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(li, orders, "l_orderkey", how="right")


def test_normalize_epoch_nanos_no_tz_leak_and_magnitude_guard(spark, tmp_path):
    """Loading an NTZ events table must not permanently mutate the session
    timezone (ADVICE r2), and an int64 ts that is NOT nanos-magnitude must
    raise instead of being misread 1000x."""
    import datetime

    from systems_spark.sources import normalize_epoch_nanos

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        p = str(tmp_path / "ntz_events")
        spark.sql(
            "select timestamp_ntz'2024-06-01 12:00:00' as ts, 1 as event_id"
        ).write.mode("overwrite").parquet(p)
        df = normalize_epoch_nanos(spark.read.parquet(p))
        # value is the naive-UTC reading regardless of session tz
        want_ns = int(datetime.datetime(
            2024, 6, 1, 12, tzinfo=datetime.timezone.utc
        ).timestamp()) * 10**9
        assert df.first().ts == want_ns
        # ...and the session timezone was restored, not left at UTC
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"

        # long-typed ts at micros magnitude → loud failure
        micros = spark.createDataFrame(
            [(want_ns // 1000, 1)], "ts long, event_id int"
        )
        with pytest.raises(ValueError, match="nanoseconds"):
            normalize_epoch_nanos(micros)
        # nanos magnitude passes through untouched
        nanos = spark.createDataFrame([(want_ns, 1)], "ts long, event_id int")
        assert normalize_epoch_nanos(nanos).first().ts == want_ns
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_global_rank_plan_is_jvm_side(spark, tables):
    """GlobalRank's r3 plan contract: the rank append is relational — ONE
    wide exchange (the bucket repartition; the window's (bucket, group)
    clustering is satisfied by it, adding only a sort), a broadcast of the
    tiny layout, and NO Python boundary in the data path."""
    from systems_spark.operators import GlobalRank
    from systems_spark.plans import formatted_plan

    df = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    out = GlobalRank(["o_totalprice"], group_cols=["o_custkey"],
                     num_partitions=8)(df)
    plan = formatted_plan(out)
    import re
    wide = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert wide == 1, f"expected exactly 1 wide exchange, plan had {wide}"
    assert "BroadcastExchange" in plan
    # the only Python in the plan is the tiny layout createDataFrame scan,
    # never a MapInPandas/ArrowEvalPython over the data path
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_r8_lane_plan_shapes(spark, tables):
    """Plan posture of the r8 additions: bounded exchange counts — the
    one-pass melt (feature_scores) and the batch-proportional merge
    (apply_cdc) must not hide per-feature or per-key scans."""
    from pyspark.sql import functions as F

    from systems_spark.functions.association import feature_association
    from systems_spark.operators import apply_cdc

    li = tables["lineitem"].select(
        "l_returnflag", "l_linestatus",
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qb"))
    scores = feature_association(li, ["l_linestatus", "qb"], "l_returnflag")
    # one melted pass: cells agg + 3 marginal/score joins — adding a
    # FEATURE must not add an exchange (the anti-pattern is F scans)
    one = feature_association(li, ["l_linestatus"], "l_returnflag")
    assert count_exchanges(scores) == count_exchanges(one)

    snap = tables["orders"].select("o_orderkey", "o_totalprice")
    ch = (tables["orders"].limit(50)
          .select("o_orderkey", (F.col("o_totalprice") * 2)
                  .alias("o_totalprice"),
                  F.lit(1).alias("seq"), F.lit("update").alias("op")))
    merged = apply_cdc(snap, ch, "o_orderkey", check_unique_seq=False)
    # batch window + anti join + union: a bounded handful of exchanges,
    # none of them a second scan of the snapshot
    assert count_exchanges(merged) <= 5


def test_scan_split_cache_overwrites_on_rewrite(tmp_path):
    """The footer cache is keyed by file path: a rewrite (new mtime)
    overwrites the entry instead of adding a second one, and the new
    row-group count is what the estimate reports."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from systems_spark import sources

    f = str(tmp_path / "t.parquet")
    tbl = pa.table({"x": list(range(100))})
    pq.write_table(tbl, f, row_group_size=100)
    os.utime(f, (1_000_000, 1_000_000))
    assert sources._estimated_scan_splits(f) == 1
    pq.write_table(tbl, f, row_group_size=25)
    os.utime(f, (2_000_000, 2_000_000))
    assert sources._estimated_scan_splits(f) == 4
    assert sources._SPLIT_CACHE[f] == (2_000_000, 4)
    assert [k for k in sources._SPLIT_CACHE if f in str(k)] == [f]


def test_scan_split_estimate_is_none_without_parquet_files(tmp_path):
    """A directory holding no parquet files is an unknown layout: the
    estimate is None ('plenty' — no repartition), not 0 splits."""
    from systems_spark import sources

    (tmp_path / "notes.txt").write_text("not a table")
    assert sources._estimated_scan_splits(str(tmp_path)) is None
