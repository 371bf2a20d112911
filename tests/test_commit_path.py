"""The lake table's single commit path and the fixes that ride on it:
snapshot pinned before any read (MERGE write-skew on the schema), auto
compaction after every data write, no full-log read to find a version,
quoted nested type names in spliced casts, released persists on error, and
one reset for every query memo."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from incremental_etl_on_lakehouse_spark.lake import LakeTable
from incremental_etl_on_lakehouse_spark.lake.table import MergeClause
from incremental_etl_on_lakehouse_spark.operators.cdc import (
    incremental_minmax_update,
)

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("country", StringType()),
        StructField("visitors", LongType()),
    ]
)


def test_merge_schema_write_skew_detected(spark, tmp_path, monkeypatch):
    """A concurrent ADD COLUMNS + UPDATE landing right after the merge
    read the schema must make the merge collide. Pinning the version after
    the schema read would instead rewrite the touched file under the old
    schema and silently drop the new column's value."""
    t = LakeTable.create(spark, str(tmp_path / "tbl"), SCHEMA)
    t.append(spark.createDataFrame([(1, "England", 10)], SCHEMA))
    fired = {}
    orig_schema = LakeTable.schema

    def schema_then_interloper(self):
        out = orig_schema(self)
        if self is t and not fired:
            fired["v"] = None
            other = LakeTable(self.spark, self.path)
            other.add_columns([("note", StringType())])
            fired["v"] = other.update({"note": "'kept'"}, "id = 1")
        return out

    monkeypatch.setattr(LakeTable, "schema", schema_then_interloper)
    src = spark.createDataFrame([(1, "England", 99)], SCHEMA)
    with pytest.raises(FileExistsError):
        t.merge(
            src,
            "source.id = target.id",
            [MergeClause("update", None, {"visitors": "source.visitors"})],
        )
    monkeypatch.undo()
    fresh = LakeTable(spark, t.path)
    assert fresh.version() == fired["v"]
    assert [(r["visitors"], r["note"]) for r in fresh.to_df().collect()] == [
        (10, "kept")
    ]


def test_delete_triggers_auto_compaction(spark, tmp_path):
    """autoCompact fires after every write that adds files, not only
    after APPEND and MERGE: a rewriting DELETE that leaves enough small
    files behind is followed by an incremental COMPACT."""
    schema = StructType([StructField("id", LongType())])
    t = LakeTable.create(spark, str(tmp_path / "ac"), schema)
    t.append(spark.createDataFrame([(0,), (1,)], schema).coalesce(1))
    for i in range(2, 5):
        t.append(spark.createDataFrame([(i,)], schema).coalesce(1))
    t.set_properties(
        {
            "autoCompact": "true",
            "autoCompact.minNumFiles": "4",
            "optimizedWrite.targetFileRows": "1000",
        }
    )
    assert len(t.files()) == 4  # a metadata commit adds no files
    t.delete("id = 0")
    ops = [h["operation"] for h in t.history()]
    assert ops[-2:] == ["DELETE", "COMPACT"], ops
    assert len(t.files()) == 1
    assert sorted(r.id for r in t.to_df().collect()) == [1, 2, 3, 4]


def test_write_paths_do_not_read_the_whole_log(spark, tmp_path, monkeypatch):
    """Every write finds its version from its pinned snapshot; none folds
    the full commit history (an O(commits) read per write)."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "nolog"),
        SCHEMA,
        properties={"enableChangeDataFeed": "true"},
    )
    t.append(spark.createDataFrame([(1, "England", 10)], SCHEMA))

    def no_full_log(self):
        raise AssertionError("write path read the whole commit log")

    monkeypatch.setattr(LakeTable, "_commits", no_full_log)
    rows = spark.createDataFrame([(2, "Wales", 20), (3, "Peru", 30)], SCHEMA)
    t.append(rows)
    t.update({"visitors": "visitors + 1"}, "id = 2")
    t.delete("id = 3")
    t.merge(
        spark.createDataFrame([(2, "Wales", 5), (4, "Chile", 4)], SCHEMA),
        "source.id = target.id",
        [MergeClause("update", None, "*"), MergeClause("insert", None, "*")],
    )
    t.overwrite_where(
        spark.createDataFrame([(4, "Chile", 40)], SCHEMA), "id = 4"
    )
    t.compact()
    t.restore(1)
    t.overwrite(rows)
    t.add_constraint("pos", "visitors >= 0")
    v = t.replace_definition(SCHEMA)
    assert t.version() == v == 11


def test_append_with_quoted_nested_field_names(spark, tmp_path):
    """Spliced CASTs spell nested types the way the SQL parser reads them:
    struct field names that need quoting (``content-type``) survive the
    write path, inside arrays and maps too, and a MERGE that evolves such
    a column fills untouched rows with a typed NULL."""
    meta = StructType([StructField("content-type", StringType())])
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("meta", meta),
            StructField("parts", ArrayType(meta)),
            StructField("tags", MapType(StringType(), meta)),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "nested"), schema)
    t.append(
        spark.createDataFrame(
            [(1, ("text/html",), [("a/b",)], {"k": ("c/d",)})], schema
        )
    )
    row = t.to_df().collect()[0]
    assert row["meta"]["content-type"] == "text/html"
    assert row["parts"][0]["content-type"] == "a/b"
    assert row["tags"]["k"]["content-type"] == "c/d"

    extra = StructType([StructField("x y", LongType())])
    evolved = StructType(schema.fields + [StructField("extra", extra)])
    t.merge(
        spark.createDataFrame([(2, ("text/css",), [], {}, (7,))], evolved),
        "source.id = target.id",
        [MergeClause("insert", None, "*")],
        merge_schema=True,
    )
    got = {r["id"]: r["extra"] for r in t.to_df().collect()}
    assert got[1] is None and got[2]["x y"] == 7


def test_minmax_maintenance_unpersists_on_error(spark, tmp_path):
    """The persisted classification frame is released on every exit path,
    including an exception raised before the gold merge."""
    mm = LakeTable.create(
        spark,
        str(tmp_path / "mm"),
        StructType(
            [
                StructField("grp", StringType()),
                StructField("min_value", LongType()),
                StructField("max_value", LongType()),
            ]
        ),
    )
    mm.append(spark.createDataFrame([("a", 1, 10)], mm.schema()))
    # deleting the current minimum forces the recompute branch, whose
    # base table lacks the value column: analysis fails before the merge
    changes = spark.createDataFrame(
        [("a", 1, "delete")], "grp string, val long, _change_type string"
    )
    base = spark.createDataFrame([("a",)], "grp string")
    spark.catalog.clearCache()
    with pytest.raises(AnalysisException):
        incremental_minmax_update(mm, base, changes, ["grp"], "val")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_reset_memoized_state_clears_every_query_cache():
    from incremental_etl_on_lakehouse_spark import queries

    caches = {
        id(val): val
        for mod in vars(queries).values()
        if getattr(mod, "__name__", "").startswith(queries.__name__ + "._")
        for name, val in vars(mod).items()
        if name.startswith("_") and name.endswith("_CACHE")
    }
    assert len(caches) == 12
    try:
        for c in caches.values():
            c[("probe", "")] = object()
        queries.reset_memoized_state()
        assert not any(caches.values())
    finally:
        for c in caches.values():
            c.pop(("probe", ""), None)
