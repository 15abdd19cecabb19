"""Sources (HTML stop-event UDTF, JSON reader, Kafka plan shapes, config
parser) and sinks (GeoJSON, Kafka message shape)."""

from __future__ import annotations

import pytest

import json

from pyspark.sql import Row

from c_tran_data_pipeline_spark import schemas
from c_tran_data_pipeline_spark.sinks.geojson import feature_collection, features_df
from c_tran_data_pipeline_spark.sources.html_stops import stop_events_from_html
from c_tran_data_pipeline_spark.sources.kafka import read_ccloud_config, to_kafka_sink
from c_tran_data_pipeline_spark.sources.readers import load_table, read_json_records
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, run_counting_jobs

PAGE = """
<html><body>
<h3>Stop events for trip 169302880 on 2020-10-18</h3>
<table>
<tr><th>vehicle_number</th><th>route_number</th><th>direction</th><th>service_key</th></tr>
<tr><td>4008</td><td>65</td><td>0</td><td>W</td></tr>
</table>
<h3>Stop events for trip 169302881 on 2020-10-18</h3>
<table>
<tr><th>vehicle_number</th><th>route_number</th><th>direction</th><th>service_key</th></tr>
<tr><td>4009</td><td>12</td><td>1</td><td>S</td></tr>
</table>
</body></html>
"""


def test_html_stop_event_udtf(spark):
    pages = spark.createDataFrame([Row(url="p1", html=PAGE)])
    out = {r.trip_id: r for r in stop_events_from_html(pages).collect()}
    assert out["169302880"].vehicle_number == "4008"
    assert out["169302880"].route_number == "65"
    assert out["169302881"].direction == "1"
    assert out["169302881"].service_key == "S"


def test_json_array_file_source(spark, tmp_path):
    # S4: the reference's whole-array dump files (load_inserts.py:182-183)
    rows = [{"EVENT_NO_TRIP": "1", "OPD_DATE": "25-SEP-20", "VEHICLE_ID": "9",
             "ACT_TIME": "100", "GPS_LATITUDE": None, "GPS_LONGITUDE": None,
             "DIRECTION": "5", "VELOCITY": "10", "EVENT_NO_STOP": None,
             "METERS": None, "GPS_SATELLITES": None, "GPS_HDOP": None}]
    p = tmp_path / "dump.json"
    p.write_text(json.dumps(rows))
    df = read_json_records(spark, str(p), schemas.RAW_BREADCRUMB, multi_line=True)
    assert df.count() == 1 and df.collect()[0].EVENT_NO_TRIP == "1"


def test_ccloud_config_parse(tmp_path):
    p = tmp_path / "ccloud.config"
    p.write_text("# comment\nbootstrap.servers=broker:9092\n\nsasl.username = user1\n")
    conf = read_ccloud_config(str(p))
    assert conf == {"bootstrap.servers": "broker:9092", "sasl.username": "user1"}


def test_kafka_sink_message_shape(spark):
    df = spark.createDataFrame([Row(trip_id=1, speed=12.5)])
    out = to_kafka_sink(df, "reading").collect()[0]
    assert bytes(out.key) == b"reading"
    assert json.loads(bytes(out.value)) == {"trip_id": 1, "speed": 12.5}


def test_geojson_feature_collection(spark):
    df = spark.createDataFrame([Row(longitude=-122.67, latitude=45.52, avg_speed=12.0)])
    fc = json.loads(feature_collection(df, "longitude", "latitude", ["avg_speed"]))
    assert fc["type"] == "FeatureCollection"
    f = fc["features"][0]
    assert f["geometry"]["coordinates"] == [-122.67, 45.52]
    assert f["properties"]["avg_speed"] == 12.0


def test_geojson_features_scale_path(spark):
    df = spark.createDataFrame(
        [Row(longitude=float(i), latitude=float(i), s=float(i)) for i in range(5)]
    )
    feats = features_df(df, "longitude", "latitude", ["s"]).collect()
    assert len(feats) == 5
    assert all(json.loads(r.feature)["type"] == "Feature" for r in feats)


def test_partitioned_write_prunes_and_overwrites_dynamically(spark, tmp_path):
    """sinks/partitioned.py: (1) a date filter prunes the scan to the
    matching directories (PartitionFilters + partition count in the
    plan); (2) dynamic overwrite of one day leaves other days intact."""
    from c_tran_data_pipeline_spark.sinks.partitioned import (
        read_partition_range,
        write_partitioned,
    )

    events = load_table(spark, SF_ORACLE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_partitioned(events, path, ["event_date"])
    n_days = events.select("event_date").distinct().count()
    assert n_days > 2

    one_day = events.select(F.min("event_date")).first()[0]
    pruned = read_partition_range(spark, path, "event_date", one_day, one_day)
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split("PartitionFilters")[1][:200]
    # the scan reports reading only the selected partition's files
    expected = events.filter(F.col("event_date") == one_day).count()
    assert pruned.count() == expected

    # dynamic overwrite: rewrite ONE day with a marker value; other days untouched
    marker = (
        events.filter(F.col("event_date") == one_day)
        .withColumn("value", F.lit(-1.0))
    )
    write_partitioned(marker, path, ["event_date"])
    back = spark.read.parquet(path)
    assert back.filter(F.col("event_date") == one_day).filter(F.col("value") != -1.0).count() == 0
    assert back.filter(F.col("event_date") != one_day).count() == events.filter(
        F.col("event_date") != one_day
    ).count()


def test_json_quarantine_splits_poison_records(spark, tmp_path):
    """PERMISSIVE ingest: malformed lines land in quarantine with the
    raw text preserved; good rows parse; nothing throws, nothing lost."""
    from c_tran_data_pipeline_spark.sources.readers import read_json_with_quarantine

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"EVENT_NO_TRIP": "1", "ACT_TIME": "100"}\n'
        "this is not json at all\n"
        '{"EVENT_NO_TRIP": "2", "ACT_TIME": "200"}\n'
        '{"EVENT_NO_TRIP": "3", "ACT_TIME":\n'
    )
    good, quarantined = read_json_with_quarantine(spark, str(p), schemas.RAW_BREADCRUMB)
    assert sorted(r.EVENT_NO_TRIP for r in good.collect()) == ["1", "2"]
    bad = [r.raw for r in quarantined.collect()]
    assert len(bad) == 2 and "not json" in bad[0]
    # conservation: every input line is accounted for exactly once
    assert good.count() + quarantined.count() == 4


def test_http_fetch_json_to_df_roundtrip(spark):
    """S1 (producer.py:76-78): injected-transport fetch → typed parse →
    conform_breadcrumbs produces a tstamp, proving the acquisition output
    feeds the conform path unchanged."""
    from c_tran_data_pipeline_spark.functions.transforms import conform_breadcrumbs
    from c_tran_data_pipeline_spark.sources.readers import fetch_json_to_df

    body = json.dumps(
        [
            {"EVENT_NO_TRIP": "7", "OPD_DATE": "25-SEP-20", "VEHICLE_ID": "9",
             "ACT_TIME": "3600", "GPS_LATITUDE": "45.5", "GPS_LONGITUDE": "-122.6",
             "DIRECTION": "90", "VELOCITY": "10", "EVENT_NO_STOP": "8",
             "METERS": "100", "GPS_SATELLITES": "7", "GPS_HDOP": "0.9"},
            {"EVENT_NO_TRIP": "8", "OPD_DATE": "25-SEP-20", "VEHICLE_ID": "9",
             "ACT_TIME": "3700", "GPS_LATITUDE": None, "GPS_LONGITUDE": None,
             "DIRECTION": None, "VELOCITY": None, "EVENT_NO_STOP": None,
             "METERS": None, "GPS_SATELLITES": None, "GPS_HDOP": None},
        ]
    )
    seen = []

    def fake_transport(url: str) -> str:
        seen.append(url)
        return body

    raw = fetch_json_to_df(spark, "http://example.invalid/getBreadCrumbData",
                           schemas.RAW_BREADCRUMB, transport=fake_transport)
    assert seen == ["http://example.invalid/getBreadCrumbData"]
    assert raw.columns == [f.name for f in schemas.RAW_BREADCRUMB.fields]
    conformed = {r.trip_id: r for r in conform_breadcrumbs(raw).collect()}
    assert conformed[7].tstamp.isoformat().startswith("2020-09-25T01:00")
    assert conformed[8].speed is None


def test_read_evolving_parquet_unions_schemas(spark, tmp_path):
    """Dump v1 lacks the columns v2 added; the merged read exposes the
    union with null-fill on old rows and loses no data either way."""
    from c_tran_data_pipeline_spark.sources.readers import read_evolving_parquet

    v1 = tmp_path / "dump_v1"
    v2 = tmp_path / "dump_v2"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(str(v1))
    spark.createDataFrame(
        [(3, "gamma", "en", 0.9)],
        "doc_id long, text string, lang string, quality double",
    ).write.parquet(str(v2))

    merged = read_evolving_parquet(spark, str(v1), str(v2))
    assert set(merged.columns) == {"doc_id", "text", "lang", "quality"}
    rows = {r["doc_id"]: r for r in merged.collect()}
    assert len(rows) == 3
    assert rows[1]["lang"] is None and rows[1]["quality"] is None
    assert rows[3]["lang"] == "en" and rows[3]["quality"] == 0.9


def test_load_table_reuses_schema_and_never_serves_a_stale_one(spark, tmp_path):
    """A second load of an unchanged file runs no Spark job (the
    inferred schema is reused); overwriting the same path, as a single
    file or as a part file inside a table directory, is a new version
    whose new column comes back with its values. The events ``ts``
    normalization still yields a TIMESTAMP on the reused-schema path,
    for micros- and nanos-typed drops alike."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    d = str(tmp_path)

    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}), path)
    load_table(spark, d, "orders")
    df, n = run_counting_jobs(sc, "load_table_reuse_file", lambda: load_table(spark, d, "orders"))
    assert n == 0
    assert sorted(r.o_orderkey for r in df.collect()) == [1, 2]

    pq.write_table(
        pa.table({"o_orderkey": pa.array([3, 4], pa.int64()), "o_comment": ["x", "y"]}), path
    )
    got = load_table(spark, d, "orders")
    assert got.columns == ["o_orderkey", "o_comment"]
    assert sorted(tuple(r) for r in got.collect()) == [(3, "x"), (4, "y")]

    part = tmp_path / "events.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 30)
    pq.write_table(
        pa.table({"user_id": pa.array([7], pa.int64()), "ts": pa.array([t0], pa.timestamp("us"))}),
        part,
    )
    load_table(spark, d, "events")
    ev, n = run_counting_jobs(sc, "load_table_reuse_dir", lambda: load_table(spark, d, "events"))
    assert n == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.select(F.unix_micros("ts")).first()[0] == 1704112200 * 10**6

    for unit in ("us", "ns"):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([8], pa.int64()),
                    "ts": pa.array([t0], pa.timestamp(unit)),
                    "event_type": ["view"],
                }
            ),
            part,
        )
        load_table(spark, d, "events")
        ev = load_table(spark, d, "events")
        assert ev.columns == ["user_id", "ts", "event_type"], unit
        assert dict(ev.dtypes)["ts"] == "timestamp", unit
        r = ev.select("user_id", F.unix_micros("ts"), "event_type").first()
        assert tuple(r) == (8, 1704112200 * 10**6, "view"), unit


def test_http_json_datasource_partitions_per_url(spark, tmp_path):
    """S1 scale form: the custom Python DataSource plans one input
    partition per endpoint (distributed acquisition) and its raw-value
    rows feed the same quarantine parse path as file JSON — exercised
    end-to-end through file:// URLs, no network."""
    from c_tran_data_pipeline_spark.sources.http_json_source import register

    p1, p2 = tmp_path / "page1.json", tmp_path / "page2.json"
    p1.write_text(json.dumps(
        [{"EVENT_NO_TRIP": "1", "ACT_TIME": "10"}, {"EVENT_NO_TRIP": "2", "ACT_TIME": "20"}]
    ))
    p2.write_text(json.dumps({"EVENT_NO_TRIP": "3", "ACT_TIME": "30"}))  # bare object

    register(spark)
    raw = (
        spark.read.format("http_json")
        .option("urls", f"file://{p1},file://{p2}")
        .option("allowed_schemes", "file")  # explicit opt-in: default is http,https
        .load()
    )
    assert raw.columns == ["value"]
    # one partition per URL — the planner fans endpoints across tasks
    assert raw.rdd.getNumPartitions() == 2
    parsed = raw.select(
        F.from_json("value", "EVENT_NO_TRIP string, ACT_TIME string").alias("r")
    ).select("r.*")
    got = {(r.EVENT_NO_TRIP, r.ACT_TIME) for r in parsed.collect()}
    assert got == {("1", "10"), ("2", "20"), ("3", "30")}


def test_http_json_datasource_requires_urls(spark):
    import pytest as _pytest

    from c_tran_data_pipeline_spark.sources.http_json_source import register

    register(spark)
    with _pytest.raises(Exception, match="urls"):
        spark.read.format("http_json").load().collect()


def test_http_json_datasource_scheme_allowlist_and_size_cap(spark, tmp_path):
    """Hardening contract: file:// is rejected unless opted in (default
    allowlist is http,https — the source must not be an SSRF/local-read
    primitive when the url list comes from untrusted config), and a
    response bigger than max_bytes aborts instead of buffering."""
    import pytest as _pytest

    from c_tran_data_pipeline_spark.sources.http_json_source import register

    register(spark)
    p = tmp_path / "data.json"
    p.write_text(json.dumps([{"a": 1}]))
    # scheme rejected at plan time without the explicit opt-in
    with _pytest.raises(Exception, match="allowed_schemes"):
        spark.read.format("http_json").option("urls", f"file://{p}").load().collect()
    # size cap aborts the fetch
    with _pytest.raises(Exception, match="max_bytes"):
        (
            spark.read.format("http_json")
            .option("urls", f"file://{p}")
            .option("allowed_schemes", "file")
            .option("max_bytes", "4")
            .load()
            .collect()
        )
    # within cap + opted-in scheme still works
    got = (
        spark.read.format("http_json")
        .option("urls", f"file://{p}")
        .option("allowed_schemes", "file")
        .load()
        .collect()
    )
    assert len(got) == 1


def test_versioned_store_time_travel_and_isolation(spark, tmp_path):
    """Snapshot versioning: upsert/merge create immutable versions, old
    versions stay readable (time travel), a resolved reader survives a
    concurrent commit, a torn pointer write cannot corrupt the table,
    and vacuum never drops the current version."""
    import os

    from c_tran_data_pipeline_spark.sinks.versioned import VersionedTableStore

    store = VersionedTableStore(
        spark, str(tmp_path / "trips"), "trip_id long, route_id long, direction string"
    )
    assert store.current_version() == 0 and store.read().count() == 0

    v1 = store.upsert(
        spark.createDataFrame([(1, 10, "Out"), (2, 20, "Back")], store.schema),
        keys=["trip_id"],
    )
    v2 = store.merge(
        spark.createDataFrame([(1, 99, "Back")], store.schema),
        keys=["trip_id"],
        set_cols=["route_id", "direction"],
    )
    assert (v1, v2) == (1, 2)

    # time travel: v1 still shows the pre-merge row
    r1 = {r.trip_id: r.route_id for r in store.read(version=1).collect()}
    r2 = {r.trip_id: r.route_id for r in store.read().collect()}
    assert r1 == {1: 10, 2: 20} and r2 == {1: 99, 2: 20}

    # a reader that resolved v2 keeps its snapshot across a later commit
    pinned = store.read()
    store.upsert(spark.createDataFrame([(3, 30, "Out")], store.schema), keys=["trip_id"])
    assert pinned.count() == 2 and store.read().count() == 3

    # torn pointer write (crash sim): leftover tmp never affects reads
    (tmp_path / "trips" / f"_current.tmp-{os.getpid()}").write_text("9999")
    assert store.current_version() == 3

    # vacuum keeps the current version, drops the oldest
    dropped = store.vacuum(keep_last=2)
    assert dropped == [1]
    assert store.read().count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="version 1"):
        store.read(version=1)

    # torn SNAPSHOT (crash between parquet write and pointer flip): an
    # orphan dir ahead of the pointer exists on disk but is NOT
    # committed — explicit time travel to it must refuse, not serve
    # torn data
    cur = store.current_version()
    orphan = tmp_path / "trips" / "_versions" / f"v{cur + 1:08d}"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"partial write, not a parquet file")
    with _pytest.raises(ValueError, match="not committed"):
        store.read(version=cur + 1)
    # ...and the next commit clobbers the orphan and proceeds normally
    v_next = store.upsert(
        spark.createDataFrame([(4, 40, "Out")], store.schema), keys=["trip_id"]
    )
    assert v_next == cur + 1
    assert store.read(version=v_next).count() == 4


def test_json_array_artifact_roundtrip(spark, tmp_path):
    """K2 exact artifact: write_json_array emits ONE valid-JSON array
    file (the reference's file_consumer.py:64-96 dump format, minus its
    trailing-comma bug) that read_json_records(multiLine=True) — the
    same reader the reference's load_inserts path maps to — round-trips
    exactly; the small-result cap raises instead of funnelling a big
    DataFrame through the driver."""
    import pytest as _pytest

    from c_tran_data_pipeline_spark import schemas
    from c_tran_data_pipeline_spark.sinks.json_array import write_json_array
    from c_tran_data_pipeline_spark.sources.readers import read_json_records

    rows = [
        ("229207908", "3909", "9", "0", "W"),
        ("229207909", "3910", "20", "1", "U"),
    ]
    df = spark.createDataFrame(rows, schemas.RAW_STOP_EVENT)
    path = str(tmp_path / "dump2020-09-25.json")
    n = write_json_array(df, path)
    assert n == 2

    # plain json.load accepts the artifact (the reference's own reader)
    with open(path) as fh:
        assert len(json.load(fh)) == 2

    back = read_json_records(spark, path, schemas.RAW_STOP_EVENT, multi_line=True)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    with _pytest.raises(ValueError, match="max_rows"):
        write_json_array(df, str(tmp_path / "cap.json"), max_rows=1)


def test_compaction_preserves_content_and_cuts_files(spark, tmp_path):
    """64 tiny files compact to the planned count with the exact same
    row multiset; a second pass is a no-op; sort_by layout makes the
    output range-partitioned so file min/max stats prune on the key."""
    from c_tran_data_pipeline_spark.sinks.compaction import (
        compact_parquet,
        parquet_file_census,
        plan_compaction,
    )

    path = str(tmp_path / "t")
    spark.range(10_000).selectExpr(
        "id", "id % 97 AS k", "repeat('x', 64) AS pad"
    ).repartition(64).write.parquet(path)
    before, total = parquet_file_census(path)
    assert before == 64
    rows_before = sorted(r.id for r in spark.read.parquet(path).collect())

    # target sized to land at ~4 files for this table
    target = max(1, total // 4)
    plan = plan_compaction(path, target_bytes=target)
    assert plan["needed"] and 2 <= plan["n_target"] <= 8

    res = compact_parquet(spark, path, target_bytes=target)
    assert res["compacted"] is True
    assert res["n_files_after"] == plan["n_target"] < before
    rows_after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before  # content-identical

    # convergence: bigger files compress better, so one more consolidating
    # pass is legitimate — but the fixpoint must arrive within one step
    # and never increase the file count.
    res2 = compact_parquet(spark, path, target_bytes=target)
    assert res2["n_files_after"] <= res["n_files_after"]
    if res2["compacted"]:
        res3 = compact_parquet(spark, path, target_bytes=target)
        assert res3["compacted"] is False
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == rows_before


@pytest.mark.slow
def test_compaction_sort_by_gives_prunable_layout(spark, tmp_path):
    """With sort_by, each output file covers a disjoint id range: the
    per-file (min, max) intervals never overlap, which is what lets a
    point/range predicate on the key skip files via footer stats."""
    import os

    import pyarrow.parquet as pq

    from c_tran_data_pipeline_spark.sinks.compaction import compact_parquet

    path = str(tmp_path / "t")
    spark.range(5_000).selectExpr("id", "repeat('y', 64) AS pad").repartition(
        32
    ).write.parquet(path)
    res = compact_parquet(spark, path, target_bytes=1, force=True, sort_by=["id"])
    assert res["compacted"]

    spans = []
    for root, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                t = pq.read_table(os.path.join(root, f), columns=["id"])
                ids = t.column("id").to_pylist()
                if ids:
                    spans.append((min(ids), max(ids)))
    spans.sort()
    assert len(spans) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint ranges -> footer stats prune
    # content preserved too
    assert spark.read.parquet(path).count() == 5_000


def test_html_stop_event_native_udtf_matches_explode_path(spark):
    """The Spark 4 NATIVE @udtf + LATERAL path produces exactly the rows
    of the udf-returns-array + explode composition (both share
    _StopEventHTMLParser), including schema order and the empty-page /
    NULL-page behaviors."""
    from c_tran_data_pipeline_spark.sources.html_stops import (
        stop_events_from_html_udtf,
    )

    pages = spark.createDataFrame(
        [Row(url="p1", html=PAGE), Row(url="p2", html=""), Row(url="p3", html=None)]
    )
    explode_rows = sorted(map(tuple, stop_events_from_html(pages).collect()))
    udtf_rows = sorted(map(tuple, stop_events_from_html_udtf(pages).collect()))
    assert udtf_rows == explode_rows
    assert len(udtf_rows) == 2
    cols = stop_events_from_html_udtf(pages).columns
    assert cols == stop_events_from_html(pages).columns
