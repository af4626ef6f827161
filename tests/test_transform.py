"""Transform built-ins (reference: transform_test.go; DOCUMENTATION.md
JS built-ins re-expressed as column operations)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datahub_spark import transforms as T
from tests.entity_fixtures import people_log


def _bob(spark):
    return people_log(spark).filter((F.col("id") == "p:bob") & (F.col("recorded") == 2))


def test_get_set_remove_rename_property(spark):
    df = _bob(spark)
    assert T.set_property(df, "p:name", F.lit("Bobby")).collect()[0]["props"]["p:name"] == "Bobby"
    assert T.set_property(df, "p:new", F.lit("x")).collect()[0]["props"]["p:new"] == "x"
    assert "p:name" not in T.remove_property(df, "p:name").collect()[0]["props"]
    renamed = T.rename_property(df, "p:name", "p:fullname").collect()[0]["props"]
    assert renamed["p:fullname"] == "Bob" and "p:name" not in renamed
    got = df.select(T.get_property("p:missing", default="dflt").alias("v")).collect()[0]["v"]
    assert got == "dflt"


def test_add_reference_overwrites_same_predicate(spark):
    df = _bob(spark)
    out = T.add_reference(df, "p:home", F.lit("c:paris")).collect()[0]["refs"]
    assert out["p:home"] == ["c:paris"]
    out2 = T.add_reference(df, "p:likes", F.lit("c:oslo")).collect()[0]["refs"]
    assert out2["p:likes"] == ["c:oslo"] and out2["p:home"] == ["c:oslo"]


def test_set_deleted_and_new_entity_from(spark):
    df = _bob(spark)
    assert T.set_deleted(df, True).collect()[0]["deleted"] is True
    fresh = T.new_entity_from(df).collect()[0]
    assert fresh["id"] == "p:bob" and fresh["props"] == {} and fresh["refs"] == {}
    copied = T.new_entity_from(df, copy_props=True, copy_refs=True).collect()[0]
    assert copied["props"]["p:name"] == "Bob" and copied["refs"]["p:home"] == ["c:oslo"]


def test_enrich_via_join(spark):
    log = people_log(spark)
    people = log.filter((F.col("dataset") == "people") & (F.col("recorded") <= 2))
    out = T.enrich_via(people, "p:home", "p:name", "p:cityname", via=log)
    got = {r["id"]: r["props"].get("p:cityname") for r in out.collect()}
    # every latest people version pointing at oslo gets the city name
    assert got["p:bob"] == "Oslo"


def test_python_transform_mapinpandas(spark):
    df = _bob(spark)

    def upper_names(pdf):
        pdf["props"] = pdf["props"].map(
            lambda m: {**m, "p:name": m.get("p:name", "").upper()})
        return pdf

    out = T.python_transform(df, upper_names).collect()[0]
    assert out["props"]["p:name"] == "BOB"
