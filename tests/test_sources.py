"""Sources & sinks: URI resolution, format inference, schema override,
round-trips (reference: blaze/expr/literal.py data(), odo sinks)."""

from __future__ import annotations

import pytest


def test_csv_roundtrip(spark, t, tmp_path):
    from blaze_spark import data

    path = str(tmp_path / "t.csv")
    t.into(path, fmt="csv", header="true")
    back = data(path, spark=spark)
    assert back.nrows() == 3
    assert set(back.columns) == {"name", "amount", "id"}
    # inferSchema brings ints back as ints
    assert dict(back.df.dtypes)["amount"] == "int"


def test_csv_schema_override(spark, t, tmp_path):
    from blaze_spark import data

    path = str(tmp_path / "t2.csv")
    t.into(path, fmt="csv", header="true")
    back = data(path, spark=spark, schema="name string, amount double, id long")
    assert dict(back.df.dtypes)["amount"] == "double"


def test_json_roundtrip(spark, t, tmp_path):
    from blaze_spark import data

    path = str(tmp_path / "t.json")
    t.into(path, fmt="json")
    back = data(path, spark=spark, fmt="json")
    assert back.nrows() == 3


def test_parquet_sink_and_format_inference(spark, t, tmp_path):
    from blaze_spark import data

    path = str(tmp_path / "t_out.parquet")
    t.into(path)
    back = data(path, spark=spark)
    assert back.nrows() == 3
    assert back.schema == t.schema


def test_in_memory_rows(spark):
    from blaze_spark import data

    t = data([(1, "a")], spark=spark, schema="x int, s string")
    assert t.nrows() == 1


def test_dataframe_passthrough(spark):
    from blaze_spark import data

    df = spark.range(5)
    t = data(df)
    assert t.nrows() == 5


def test_nanos_parquet_handled(spark, sf_dir):
    from blaze_spark import data

    e = data(f"{sf_dir}/events.parquet", spark=spark)
    assert dict(e.df.dtypes)["ts"] == "timestamp"
    # microsecond content survives
    row = e.sort(e.event_id).head(1).df.collect()[0]
    assert row.ts.microsecond > 0


def test_ntz_normalized_to_session_timestamp(spark, tmp_path):
    """Naive (isAdjustedToUTC=false) parquet timestamps read as
    TIMESTAMP_NTZ under Spark's inferTimestampNTZ; data() casts them to
    session-zone TimestampType so the whole dtype surface (.dt, intervals,
    oracle comparison) sees one timestamp type.  Session tz is UTC in
    conftest, so values are preserved exactly."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data

    path = str(tmp_path / "ntz.parquet")
    ts = datetime.datetime(2024, 5, 1, 12, 30, 45, 123456)
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([ts], pa.timestamp("us"))}),
        path)
    t = data(path, spark=spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    assert t.df.collect()[0].ts == ts


def test_true_nanos_parquet_converted(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet (unreadable by some Spark scans) loads via
    the nanosAsLong shim and comes back as microsecond TimestampType."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data

    path = str(tmp_path / "ns.parquet")
    ts = datetime.datetime(2024, 5, 1, 12, 30, 45, 123456)
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([ts], pa.timestamp("ns"))}),
        path, store_schema=False)
    t = data(path, spark=spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    assert t.df.collect()[0].ts == ts


def test_partitioned_write_prunes(spark, star, tmp_path):
    from blaze_spark import data
    from blaze_spark.plans import physical_plan

    path = str(tmp_path / "orders_parted")
    star["orders"].transform().into(path, partition_by="o_orderstatus")
    back = data(path, spark=spark)
    q = back[back.o_orderstatus == "F"]
    # partition pruning: only the F partition is read
    plan = physical_plan(q)
    assert "PartitionFilters" in plan
    assert q.nrows() == star["orders"][
        star["orders"].o_orderstatus == "F"].nrows()


def test_bucketed_join_avoids_shuffle(spark, star, tmp_path):
    from blaze_spark import Table, join
    from blaze_spark.plans import physical_plan

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        star["orders"].into_table("orders_b", bucket_by="o_orderkey")
        star["lineitem"].into_table("lineitem_b", bucket_by="l_orderkey")
        ob = Table(spark.table("orders_b"))
        lb = Table(spark.table("lineitem_b"))
        j = join(lb, ob, "l_orderkey", "o_orderkey")
        plan = physical_plan(j)
        # both sides pre-bucketed on the key: no Exchange before the join
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_orc_roundtrip(spark, t, tmp_path):
    """ORC is a first-class columnar source (SURVEY §2.1 maps HDF5/bcolz
    chunked stores to parquet/ORC): pruning + pushdown apply as parquet."""
    from blaze_spark import data

    path = str(tmp_path / "t.orc")
    t.into(path, fmt="orc")
    back = data(path, spark=spark)
    assert back.nrows() == 3
    assert back.schema == t.schema


def test_orc_filter_pushdown(spark, t, tmp_path):
    from blaze_spark import data
    from blaze_spark.plans import pushed_filters

    path = str(tmp_path / "t2.orc")
    t.into(path, fmt="orc")
    back = data(path, spark=spark)
    q = back[back.amount > 100][["name"]]
    assert "amount" in pushed_filters(q)


def test_avro_gated(spark, t, tmp_path):
    """Avro needs the spark-avro package; without it the engine surfaces
    Spark's own failure at write/read — the format mapping itself works."""
    import pytest

    path = str(tmp_path / "t.avro")
    try:
        t.into(path, fmt="avro")
    except Exception:
        pytest.skip("spark-avro package not on the classpath (expected)")
    from blaze_spark import data
    back = data(path, spark=spark)
    assert back.nrows() == 3


def test_jdbc_roundtrip_derby(spark, t, tmp_path):
    """data("jdbc:...") source path (reference SQLAlchemy sources,
    blaze/compute/sql.py) against embedded Derby — the one JDBC engine on
    Spark's default classpath (no external DB in this container).  Skips
    with a named-jar message if Derby is ever absent."""
    from blaze_spark import data

    url = f"jdbc:derby:{tmp_path}/jdb;create=true"
    try:
        t.df.write.format("jdbc").option("url", url) \
            .option("dbtable", "accounts").mode("overwrite").save()
    except Exception as e:  # pragma: no cover - classpath-dependent
        pytest.skip(f"Derby JDBC driver unavailable (need derby*.jar): {e}")
    back = data(url, spark=spark, dbtable="accounts")
    assert back.nrows() == 3
    assert sorted(back.columns) == ["AMOUNT", "ID", "NAME"] or \
        sorted(c.lower() for c in back.columns) == ["amount", "id", "name"]
    # predicate pushdown reaches the JDBC scan (filters become WHERE)
    assert back[back.AMOUNT > 100].nrows() == 1 if "AMOUNT" in back.columns \
        else back[back.amount > 100].nrows() == 1


def test_spark_written_nanos_parquet_loads_natively(spark, tmp_path):
    """Spark 4 writes TimestampType as parquet timestamp[ns] and reads it
    back natively even under the nanosAsLong conf — the ns footer-sniff
    must convert ONLY columns that actually load as long (a sniff-trusted
    /1000 on a TimestampType column was an AnalysisException; caught by
    the sf1 bench)."""
    import datetime

    from blaze_spark import data

    path = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2, 3, 4, 5, 678901))],
        "id long, ts timestamp").write.parquet(path)
    import pyarrow.parquet as pq
    import glob
    unit = {str(t) for t in
            pq.read_schema(glob.glob(path + "/*.parquet")[0]).types
            if "timestamp" in str(t)}
    t = data(path, spark=spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    row = t.df.first()
    assert row.ts == datetime.datetime(2024, 1, 2, 3, 4, 5, 678901), \
        f"file unit={unit}: value must survive the load untouched"


@pytest.mark.parametrize("unit,utc", [
    ("us", False),   # naive micros -> TIMESTAMP_NTZ -> normalized
    ("us", True),    # UTC-adjusted micros -> TimestampType natively
    ("ms", False),   # naive millis -> NTZ -> normalized
    ("ns", False),   # naive nanos -> nanosAsLong shim path
    ("ns", True),    # UTC nanos -> shim path, instant semantics
])
def test_source_tz_matrix(spark, tmp_path, unit, utc):
    """Environment-drift seam: every (storage unit, tz-adjustment) parquet
    variant must enter the engine as TimestampType with the value intact
    under the UTC session zone (VERDICT r4 #4: the NTZ drift silently
    broke streaming; this pins the seam)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data

    path = str(tmp_path / f"tz_{unit}_{utc}.parquet")
    ts = datetime.datetime(2024, 5, 1, 12, 30, 45, 123000)
    arr = pa.array([ts], pa.timestamp(unit, tz="UTC" if utc else None))
    pq.write_table(pa.table({"id": [1], "ts": arr}), path,
                   store_schema=False)
    t = data(path, spark=spark)
    assert dict(t.df.dtypes)["ts"] == "timestamp", (unit, utc)
    assert t.df.first().ts == ts, (unit, utc)


def test_ntz_nested_in_struct_normalized(spark, tmp_path):
    """NTZ nested inside struct/array must also be rewritten (ADVICE r4:
    top-level-only left the dtype surface mixed for nested schemas)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data

    path = str(tmp_path / "nested_ntz.parquet")
    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    tbl = pa.table({
        "id": [1],
        "meta": pa.array([{"created": ts}],
                         pa.struct([("created", pa.timestamp("us"))])),
        "times": pa.array([[ts]], pa.list_(pa.timestamp("us"))),
    })
    pq.write_table(tbl, path)
    t = data(path, spark=spark)
    assert "timestamp_ntz" not in t.df.schema.simpleString()
    row = t.df.first()
    assert row.meta.created == ts
    assert row.times[0] == ts


def test_ntz_normalized_on_passthrough_paths(spark):
    """DataFrame pass-through and in-memory createDataFrame paths apply
    the same NTZ normalization as the file readers (ADVICE r4: same data,
    same dtype regardless of entry path)."""
    import datetime

    from blaze_spark import data

    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    df = spark.createDataFrame([(1, ts)], "id long, ts timestamp_ntz")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    t = data(df)
    assert dict(t.df.dtypes)["ts"] == "timestamp"
    assert t.df.first().ts == ts


def test_ntz_cast_warns_on_non_utc_session(spark, tmp_path):
    """The NTZ cast is value-preserving only under UTC; a zoned session
    gets a warning at the data() boundary rather than a silent shift."""
    import datetime
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data

    path = str(tmp_path / "warn_ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([datetime.datetime(2024, 5, 1)],
                                 pa.timestamp("us"))}), path)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            data(path, spark=spark)
        assert any("timeZone" in str(x.message) for x in w)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_mongo_uri_dialect_parsed():
    """Reference URI dialect mongodb://host:port/db::collection
    (blaze/compute/tests/test_mongo_compute.py:384-405)."""
    from blaze_spark.sources import _parse_mongo_uri

    base, db, coll = _parse_mongo_uri("mongodb://h:27017/test_db::bank")
    assert (base, db, coll) == ("mongodb://h:27017/test_db", "test_db", "bank")
    base, db, coll = _parse_mongo_uri("mongodb://h:27017/test_db")
    assert (base, db, coll) == ("mongodb://h:27017/test_db", "test_db", None)
    base, db, coll = _parse_mongo_uri("mongodb+srv://u@h/d?retryWrites=true::c")
    assert db == "d" and coll == "c"


def test_mongo_source_gated_without_connector(spark):
    """No connector jar and no pymongo in this environment: the source
    must refuse with actionable guidance, not a bare ClassNotFound."""
    from blaze_spark import data

    with pytest.raises((ImportError, RuntimeError)) as ei:
        data("mongodb://localhost:27017/test_db::bank", spark=spark)
    assert "connector" in str(ei.value)


def test_mongo_source_requires_collection(spark):
    from blaze_spark import data

    with pytest.raises(ValueError, match="collection"):
        data("mongodb://localhost:27017/test_db", spark=spark)


def test_mongo_uri_ipv6_and_no_collection_suffix():
    from blaze_spark.sources import _parse_mongo_uri

    base, db, coll = _parse_mongo_uri("mongodb://[::1]:27017/db")
    assert (base, db, coll) == ("mongodb://[::1]:27017/db", "db", None)
    base, db, coll = _parse_mongo_uri("mongodb://[::1]:27017/db::bank")
    assert (base, db, coll) == ("mongodb://[::1]:27017/db", "db", "bank")
    base, db, coll = _parse_mongo_uri("mongodb://user:p::w@host/db::c")
    assert db == "db" and coll == "c"


def test_mongo_uri_query_string_not_absorbed():
    """ADVICE r6: a query string after the collection suffix must neither
    leak into the collection name nor be stripped from the driver URI."""
    from blaze_spark.sources import _parse_mongo_uri

    base, db, coll = _parse_mongo_uri(
        "mongodb://h:27017/db::coll?readPreference=secondary&x=y")
    assert coll == "coll"
    assert db == "db"
    assert base == "mongodb://h:27017/db?readPreference=secondary&x=y"
    # options without a collection suffix keep working too
    base, db, coll = _parse_mongo_uri("mongodb://h/db?x=y")
    assert (base, db, coll) == ("mongodb://h/db?x=y", "db", None)


# -- memoized schema discovery ---------------------------------------------

def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "memoized schema discovery")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_repeat_parquet_read_runs_no_job(spark, tmp_path):
    """A leaf discovers its schema once: a second data() of unchanged
    parquet declares the memoized schema and runs no Spark job, with the
    same schema, rows and plan as the inferred read."""
    from blaze_spark import data

    path = str(tmp_path / "rep.parquet")
    spark.range(20).selectExpr("id", "id * 2 AS twice", "cast(id AS string) s") \
        .repartition(2).write.parquet(path)
    first = data(path, spark=spark)
    again, jobs = _jobs_run(spark, lambda: data(path, spark=spark))
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert again.df.schema == first.df.schema == inferred.schema
    assert again.df.sameSemantics(inferred)
    assert sorted(again.df.collect()) == sorted(inferred.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    from blaze_spark import data

    path = tmp_path / "rw.parquet"
    _write(path, a=[1, 2])
    assert data(str(path), spark=spark).columns == ["a"]
    _write(path, a=[1, 2], b=["x", "y"])
    t = data(str(path), spark=spark)
    assert t.columns == ["a", "b"]
    assert sorted(t.df.collect()) == [(1, "x"), (2, "y")]


def test_session_conf_change_is_seen(spark, tmp_path):
    """The SQL conf is part of the key: binaryAsString set between two
    reads of the same file changes the second read's schema."""
    from blaze_spark import data

    path = str(tmp_path / "bin.parquet")
    _write(path, b=[b"ab", b"cd"])
    assert dict(data(path, spark=spark).df.dtypes)["b"] == "binary"
    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        t = data(path, spark=spark)
        assert dict(t.df.dtypes)["b"] == "string"
        assert sorted(r.b for r in t.df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(data(path, spark=spark).df.dtypes)["b"] == "binary"


def test_merge_schema_option_is_part_of_the_key(spark, tmp_path):
    from blaze_spark import data

    d = tmp_path / "merge.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", a=[1])
    _write(d / "part-1.parquet", a=[2], b=["y"])
    plain = data(str(d), spark=spark)
    assert set(plain.columns) <= {"a", "b"}
    merged = data(str(d), spark=spark, mergeSchema="true")
    assert sorted(merged.columns) == ["a", "b"]
    assert sorted(merged.df.collect(), key=lambda r: r.a) == \
        [(1, None), (2, "y")]


def test_hive_partitioned_read_keeps_schema_and_order(spark, tmp_path):
    from blaze_spark import data

    path = str(tmp_path / "hive.parquet")
    spark.range(12).selectExpr("id", "id % 3 AS p", "id * 1.5 AS v") \
        .write.partitionBy("p").parquet(path)
    inferred = spark.read.parquet(path)
    for _ in range(2):
        t = data(path, spark=spark)
        assert t.df.schema == inferred.schema
        assert t.columns == ["id", "v", "p"]
        assert sorted(t.df.collect()) == sorted(inferred.collect())
    assert t[t.p == 1].nrows() == 4


def test_concurrent_reads_share_one_schema(spark, tmp_path):
    """8 threads (more than the cores) race one cold path through the
    locked memo: every read gets the inferred schema, and the memo
    holds it afterwards."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from blaze_spark import data

    path = str(tmp_path / "conc.parquet")
    spark.range(30).selectExpr("id", "cast(id AS double) x") \
        .repartition(3).write.parquet(path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(lambda: data(path, spark=spark).df.schema)
                    for _ in range(8)]
            schemas = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == spark.read.parquet(path).schema for s in schemas)
    _, jobs = _jobs_run(spark, lambda: data(path, spark=spark))
    assert jobs == 0


def test_stream_data_sniff_keeps_reader_options(spark, tmp_path):
    """stream_data sniffs the schema with the options it streams with: a
    CSV header names the columns, as in data() of the same file."""
    from blaze_spark import data
    from blaze_spark.streaming import stream_data

    d = tmp_path / "csvsrc"
    d.mkdir()
    (d / "rows.csv").write_text("id,name\n1,a\n2,b\n")
    st = stream_data(spark, str(d), fmt="csv", header="true")
    assert st.columns == ["id", "name"]
    assert data(str(d / "rows.csv"), spark=spark).columns == ["id", "name"]


# -- memoized leaf frame ------------------------------------------------------

def _write_naive(path, ncols=1):
    """Parquet with a naive timestamp (reads as TIMESTAMP_NTZ, cast by
    data()) and ``ncols`` long columns."""
    import datetime

    import pyarrow as pa

    _write(path, ts=pa.array([datetime.datetime(2024, 5, 1, 12, 30)] * 3,
                             pa.timestamp("us")),
           **{f"c{i}": [1, 2, 3] for i in range(ncols)})


def test_repeat_read_reuses_the_normalized_leaf(spark, tmp_path):
    """Each hit is a new Python DataFrame over the memoized leaf: distinct
    wrappers (so owned-cache state never lands on a shared object), the
    same plan, the NTZ cast already applied."""
    from blaze_spark import data

    path = str(tmp_path / "leaf.parquet")
    _write_naive(path)
    first = data(path, spark=spark)
    hits = [data(path, spark=spark) for _ in range(2)]
    frames = [first.df] + [h.df for h in hits]
    assert len({id(f) for f in frames}) == 3
    assert all(h.df._jdf is first.df._jdf for h in hits)
    assert all(h.df.sameSemantics(first.df) for h in hits)
    assert dict(hits[1].df.dtypes)["ts"] == "timestamp"
    assert sorted(hits[1].df.collect()) == sorted(first.df.collect())


def test_repeat_read_is_constant_round_trips(spark, tmp_path,
                                             gateway_commands):
    """A repeat data() of an unchanged file sends a handful of gateway
    commands (the conf key and the wrapper), not a reader build, an
    NTZ cast and its analysis."""
    from blaze_spark import data

    path = str(tmp_path / "wide.parquet")
    _write_naive(path, ncols=40)
    data(path, spark=spark)
    with gateway_commands() as sent:
        t = data(path, spark=spark)
    assert sent.count <= 10, sent.count
    assert t.columns == ["ts"] + [f"c{i}" for i in range(40)]


def test_leaf_memo_never_crosses_sessions(spark, tmp_path):
    """Sessions with one SQL conf share a memo key, but a hit only reuses
    a leaf built in the same JVM session."""
    from blaze_spark import data
    from blaze_spark.sources import _schema_key

    path = str(tmp_path / "sessions.parquet")
    _write(path, a=[1, 2])
    s1, s2 = spark.newSession(), spark.newSession()
    assert _schema_key(s1, "parquet", path, {}) == \
        _schema_key(s2, "parquet", path, {})
    for s in (s1, s2, s1, s2):
        t = data(path, spark=s)
        assert t.df._jdf.sparkSession().equals(s._jsparkSession)
        assert sorted(t.df.collect()) == [(1,), (2,)]


def test_ntz_warning_repeats_on_a_memo_hit(spark, tmp_path):
    """A hit whose leaf cast NTZ columns warns under a non-UTC session as
    the inferring read did, attributed to the caller."""
    import warnings

    from blaze_spark import data

    path = str(tmp_path / "warn_hit.parquet")
    _write_naive(path)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        reads = []
        for _ in range(2):
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                reads.append(data(path, spark=spark))
            tz = [x for x in w if "timeZone" in str(x.message)]
            assert tz and tz[0].filename == __file__
        assert reads[1].df._jdf is reads[0].df._jdf
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_nanos_hit_sets_nanos_as_long(spark, tmp_path):
    """A hit on a TIMESTAMP(NANOS) leaf sets the nanosAsLong conf its
    scan needs, as the inferring read did."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blaze_spark import data
    from blaze_spark.sources import _NANOS_AS_LONG

    path = str(tmp_path / "ns_hit.parquet")
    ts = datetime.datetime(2024, 5, 1, 12, 30, 45, 123456)
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([ts], pa.timestamp("ns"))}),
        path, store_schema=False)
    old = spark.conf.get(_NANOS_AS_LONG, None)
    try:
        spark.conf.unset(_NANOS_AS_LONG)
        first = data(path, spark=spark)
        spark.conf.unset(_NANOS_AS_LONG)
        hit = data(path, spark=spark)
        assert hit.df._jdf is first.df._jdf
        assert spark.conf.get(_NANOS_AS_LONG) == "true"
        assert hit.df.collect()[0].ts == ts
    finally:
        if old is None:
            spark.conf.unset(_NANOS_AS_LONG)
        else:
            spark.conf.set(_NANOS_AS_LONG, old)
