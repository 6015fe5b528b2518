"""Direct round-trip of the SQL literals the engine renders
(sources/entities.py). The static dims, the resolution maps, the
traversal IN-lists and the query VALUES relations all go through
`_sql_lit`, so a string it escapes wrongly or an int it casts too
narrowly changes an answer or fails the query."""

from stakgraph_spark.operators.queryops import _in
from stakgraph_spark.sources.entities import _map_sql, _sql_lit, _values_df

STRINGS = [
    "it's", "'", "back\\slash", "\\\\", "a\\'b", "/api/orders/:param",
    "café naïve Ångström", "知识图谱", "🚀", "👨‍👩‍👧 family", "",
]


def test_literals_round_trip(spark):
    rows = [(s, i, 2**40 + i) for i, s in enumerate(STRINGS)] + [(None, None, None)]
    df = _values_df(spark, rows, ["s", "i", "big"], ["STRING", "INT", "BIGINT"])
    assert df.dtypes == [("s", "string"), ("i", "int"), ("big", "bigint")]
    assert sorted(map(tuple, df.collect()), key=str) == sorted(rows, key=str)
    assert df.where(_in("s", STRINGS)).count() == len(STRINGS)

    empty = _values_df(spark, [], ["x"], ["BIGINT"])
    assert empty.dtypes == [("x", "bigint")] and empty.count() == 0

    ids = {s: i for i, s in enumerate(STRINGS)}
    lists = {s: [s, "x"] for s in STRINGS}
    got = spark.sql(
        f"SELECT {_map_sql(ids)} AS ids, {_map_sql(lists)} AS lists,"
        f" {_sql_lit(STRINGS)} AS arr"
    ).first()
    assert got.ids == ids
    assert got.lists == lists
    assert got.arr == STRINGS
