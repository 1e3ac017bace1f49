"""Driver-built frames plan as Arrow local relations (no Python tasks),
and the fetch kernel's task count follows the wave's work."""

import pytest
from pyspark.sql import types as T

from cianparser_spark.engine import columnar, model
from cianparser_spark.engine.crawler import kernel_tasks
from cianparser_spark.engine.session import local_frame
from cianparser_spark.engine.store import WaveStore

# every schema the engine hands to local_frame: the store's tables
# (empty reads), the crawler's frontier/dead/parkreg frames, the seed
# dimension and the crawler's inline DDL schemas (one has an int field)
_SCHEMAS = list(model.TABLE_SCHEMAS.values()) + [
    columnar.SEED_DIM_SCHEMA,
    "seed_id long, prefix string, suffix string, host string, start long, end long",
    "host string, _f_pn long, _f_kr int, _f_sid long, _f_ci long, _f_url string",
    "seed_id long, key string, url string, consumed long, state string, ver long",
    "seed_id long, page_number long, _burn long",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def _value(dt, i):
    """Row ``i``'s value for a field: every third row null, longs past
    int32, both booleans, and binary with a zero byte."""
    if i % 3 == 2:
        return None
    if isinstance(dt, T.StringType):
        return f"s{i}ж"
    if isinstance(dt, T.LongType):
        return (1 << 40) + i
    if isinstance(dt, T.IntegerType):
        return -i
    if isinstance(dt, T.DoubleType):
        return i + 0.25
    if isinstance(dt, T.BooleanType):
        return i % 2 == 0
    if isinstance(dt, T.BinaryType):
        return bytearray(b"\x00\xff" * (i + 1))
    raise AssertionError(f"no sample value for {dt}")


def test_local_frame_plans_local_table_scan(spark):
    df = local_frame(spark, [(1, "a"), (2, None), (3, "c")], "id long, s string")
    _assert_local(df)
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, None), (3, "c")]


def test_empty_store_read_plans_local_table_scan(spark, tmp_path):
    store = WaveStore(spark, str(tmp_path / "store"), model.TABLE_SCHEMAS,
                      model.REPLACE_TABLES)
    df = store.read("offers")
    _assert_local(df)
    assert df.schema == model.OFFERS_SCHEMA and df.count() == 0


@pytest.mark.parametrize("schema", _SCHEMAS,
                         ids=lambda s: s if isinstance(s, str)
                         else ",".join(s.names[:3]))
def test_local_frame_roundtrips_like_create_dataframe(spark, schema):
    st = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    rows = [tuple(_value(f.dataType, i) for f in st.fields) for i in range(4)]
    want = spark.createDataFrame(rows, st)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # dict rows (the store's driver-written tables use them) by name
    dicts = [dict(zip(st.names, r)) for r in rows]
    assert local_frame(spark, dicts, st).collect() == want.collect()
    empty = local_frame(spark, [], schema)
    assert empty.schema == want.schema and empty.collect() == []


def test_kernel_tasks_boundaries():
    dp = 4
    # nothing, or one key: one task
    assert kernel_tasks(0, 0, dp) == 1
    assert kernel_tasks(1, 1, dp) == 1
    # small waves: one task per core while keys last, never more tasks
    # than keys
    assert kernel_tasks(10, 3, dp) == 3
    assert kernel_tasks(10, 100, dp) == dp
    assert kernel_tasks(576, 16, dp) == dp
    # ~256 pages a task between the floor and the cap
    assert kernel_tasks(256 * 5, 16, dp) == 5
    assert kernel_tasks(256 * 5 + 1, 16, dp) == 6
    assert kernel_tasks(256 * 15 + 1, 16, dp) == 16
    # cap: 4 tasks per core, or the key count if smaller
    assert kernel_tasks(10 ** 7, 10 ** 7, dp) == 4 * dp
    assert kernel_tasks(10 ** 7, 6, dp) == 6


@pytest.mark.parametrize("dp", [1, 4, 8, 32])
def test_kernel_tasks_large_waves_keep_previous_plan(dp):
    """From 4·dp·256 pages on, both paths get the task count they had
    before tasks were sized by work: min(4·dp, seeds) on the map-only
    path and min(4·dp, ceil(pages / 64)) on the shuffle path."""
    for n in (4 * dp * 256, 4 * dp * 256 + 1, 10 ** 6):
        for seeds in (1, dp, 4 * dp, 10 ** 5):
            assert kernel_tasks(n, seeds, dp) == max(1, min(4 * dp, seeds))
        assert kernel_tasks(n, n, dp) == max(1, min(4 * dp, (n + 63) // 64))
