"""File interchange formats: JSON-lines source modes and ORC/XML
round trips."""

from __future__ import annotations

import json

import pytest

from etl_caltopo_spark.io import read_json


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from etl_caltopo_spark.io import load_table, read_orc, write_orc

    path = str(tmp_path / "nation_orc")
    nation = load_table(spark, sf_dir, "nation")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert back.schema == nation.schema
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in nation.collect()
    )


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    """Native XML interchange (the reference ecosystem's downstream
    format is CoT XML): schema-declared read back of a written table
    preserves keys and values."""
    from etl_caltopo_spark.io import load_table, read_xml, write_xml

    path = str(tmp_path / "nation_xml")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_xml(nation, path, row_tag="nation", root_tag="nations")
    back = read_xml(spark, path, row_tag="nation", schema=nation.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_jsonl_scan_with_schema(spark, tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text("\n".join(json.dumps({"id": i, "name": f"n{i}"}) for i in range(5)))
    df = read_json(spark, str(p), schema="id long, name string")
    assert df.count() == 5
    assert df.schema.simpleString() == "struct<id:bigint,name:string>"


def test_jsonl_failfast_vs_permissive(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"id": 1, "name": "ok"}\n{broken\n{"id": 2, "name": "ok2"}')
    with pytest.raises(Exception):
        read_json(spark, str(p), schema="id long, name string", mode="FAILFAST").collect()
    lenient = read_json(
        spark,
        str(p),
        schema="id long, name string, _corrupt_record string",
        mode="PERMISSIVE",
    )
    rows = lenient.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["id"] is None
