"""`tables.literal_frame` renders rows as a VALUES relation."""

from __future__ import annotations

import math

from embeddingsearch_spark.tables import literal_frame


def test_literal_frame_round_trips_non_finite_doubles(spark):
    rows = [
        (1, float("inf")),
        (2, float("-inf")),
        (3, float("nan")),
        (4, 0.1),
        (5, -2.5e-300),
        (6, None),
    ]
    got = sorted(
        tuple(r)
        for r in literal_frame(spark, rows, "id long, x double").collect()
    )
    assert got[:2] == [(1, math.inf), (2, -math.inf)]
    assert got[2][0] == 3 and math.isnan(got[2][1])
    # finite values keep their exact repr round-trip
    assert got[3:] == [(4, 0.1), (5, -2.5e-300), (6, None)]


def test_literal_frame_nullability_follows_the_literals(spark):
    """Column types match the declared schema, but a column with no NULL
    literal comes back non-nullable (createDataFrame's are nullable)."""
    df = literal_frame(
        spark, [(1, "a", None), (2, "b", 0.5)], "id long, s string, x double"
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "string",
        "double",
    ]
    assert {f.name: f.nullable for f in df.schema.fields} == {
        "id": False,
        "s": False,
        "x": True,
    }
