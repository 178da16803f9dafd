"""Source-registration tests (datafusion-postgres-cli/src/main.rs:62-221):
CSV/JSON/Arrow/Parquet readers + directory auto-registration."""

import json
import os

import pyarrow as pa
import pyarrow.ipc
import pytest

from datafusion_postgres_spark.sources.registry import (
    read_file,
)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sources")
    # CSV with header (schema inference like CsvReadOptions::default)
    (d / "climate.csv").write_text(
        "date,meantemp,humidity\n"
        "2013-01-01,10.0,84.5\n"
        "2013-01-02,7.4,92.0\n"
        "2013-01-03,7.17,87.0\n")
    # NDJSON
    with open(d / "events_x.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"id": i, "kind": "k" + str(i % 2)}) + "\n")
    # Arrow IPC file
    table = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    with pa.ipc.new_file(str(d / "arr.arrow"), table.schema) as w:
        w.write_table(table)
    # Parquet
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"p": [10, 20]}), str(d / "pq.parquet"))
    # unrecognized file must be skipped
    (d / "notes.txt").write_text("ignore me")
    return str(d)


def test_csv_inference(spark, data_dir):
    df = read_file(spark, os.path.join(data_dir, "climate.csv"))
    assert df.count() == 3
    dtypes = dict(df.dtypes)
    assert dtypes["meantemp"] == "double"
    assert dtypes["date"] in ("date", "string", "timestamp")


def test_json(spark, data_dir):
    df = read_file(spark, os.path.join(data_dir, "events_x.json"))
    assert df.count() == 5
    assert set(df.columns) == {"id", "kind"}


def test_arrow_ipc(spark, data_dir):
    df = read_file(spark, os.path.join(data_dir, "arr.arrow"))
    assert [r["a"] for r in df.orderBy("a").collect()] == [1, 2, 3]


def test_parquet(spark, data_dir):
    df = read_file(spark, os.path.join(data_dir, "pq.parquet"))
    assert df.count() == 2


def test_unknown_format_raises(spark, data_dir):
    with pytest.raises(ValueError):
        read_file(spark, os.path.join(data_dir, "notes.txt"))


def test_register_directory(engine, data_dir):
    names = engine.register_directory(data_dir)
    assert names == ["arr", "climate", "events_x", "pq"]
    rows = list(engine.execute("SELECT count(*) FROM climate")[0].rows())
    assert rows[0][0] == 3
    # README demo query (README.md:110-116)
    rows = list(engine.execute(
        "SELECT max(meantemp) FROM climate")[0].rows())
    assert abs(rows[0][0] - 10.0) < 1e-9
    # registered tables appear in the catalog
    rows = list(engine.execute(
        "SELECT relname FROM pg_class WHERE relname IN ('climate', 'arr') "
        "ORDER BY 1")[0].rows())
    assert [r[0] for r in rows] == ["arr", "climate"]


class TestAvroFallback:
    """Functional .avro reads without the spark-avro jar: the pure-Python
    container-file reader (sources/avro_reader.py, written from the
    public Avro 1.11 spec) backs read_file / register_directory.
    Reference parity: datafusion-postgres-cli/src/main.rs:176-182."""

    SCHEMA = {
        "type": "record", "name": "Rec", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ]}
    ROWS = [
        {"id": 1, "name": "alpha", "score": 1.5, "ok": True,
         "note": "hi", "tags": ["a", "b"]},
        {"id": 2, "name": "beta", "score": -2.25, "ok": False,
         "note": None, "tags": []},
        {"id": 3, "name": "gamma", "score": 0.0, "ok": True,
         "note": "x", "tags": ["z"]},
    ]

    def _write(self, tmp_path_factory, codec):
        from datafusion_postgres_spark.sources.avro_reader import write_avro
        d = tmp_path_factory.mktemp("avro")
        p = str(d / f"rec_{codec}.avro")
        write_avro(p, self.SCHEMA, self.ROWS, codec=codec)
        return p

    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_roundtrip_read_file(self, spark, tmp_path_factory, codec):
        p = self._write(tmp_path_factory, codec)
        df = read_file(spark, p)
        got = sorted((r["id"], r["name"], r["score"], r["ok"], r["note"],
                      list(r["tags"])) for r in df.collect())
        want = sorted((r["id"], r["name"], r["score"], r["ok"], r["note"],
                       r["tags"]) for r in self.ROWS)
        assert got == want

    def test_logical_types(self, spark, tmp_path_factory):
        import datetime
        from decimal import Decimal
        from datafusion_postgres_spark.sources.avro_reader import (
            read_avro, write_avro)
        schema = {
            "type": "record", "name": "L", "fields": [
                {"name": "d", "type": {"type": "int",
                                       "logicalType": "date"}},
                {"name": "ts", "type": {"type": "long",
                                        "logicalType": "timestamp-micros"}},
                {"name": "amt", "type": {"type": "bytes",
                                         "logicalType": "decimal",
                                         "precision": 10, "scale": 2}},
            ]}
        d = tmp_path_factory.mktemp("avro_l")
        p = str(d / "l.avro")
        # write raw primitives (the writer encodes the physical type);
        # the READER applies the logical mapping — that's the spec split
        amt = int(Decimal("123.45").scaleb(2))
        raw = amt.to_bytes((amt.bit_length() + 8) // 8, "big", signed=True)
        write_avro(p, schema, [
            {"d": 19723, "ts": 1_700_000_000_000_000, "amt": raw}])
        _s, rows = read_avro(p)
        assert rows[0]["d"] == datetime.date(1970, 1, 1) + \
            datetime.timedelta(days=19723)
        assert rows[0]["ts"].year == 2023
        assert rows[0]["amt"] == Decimal("123.45")

    def test_register_directory_includes_avro(self, engine,
                                              tmp_path_factory):
        p = self._write(tmp_path_factory, "null")
        d = os.path.dirname(p)
        names = engine.register_directory(d)
        assert "rec_null" in names
        rows = list(engine.execute(
            "SELECT count(*) AS n FROM rec_null")[0].rows())
        assert rows[0][0] == 3

    def test_truncated_file_raises(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("avro_bad")
        p = str(d / "bad.avro")
        with open(p, "wb") as f:
            f.write(b"Obj\x01\x00\x00")
        with pytest.raises(Exception):
            read_file(spark, p)
