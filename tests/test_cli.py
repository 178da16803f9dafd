"""Smoke test of the CLI as a user runs it: a separate server process
serving a directory, two client connections, then a SIGINT shutdown."""

import os
import signal
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from test_pgwire import MiniPgClient

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wait_port(proc, log_path, timeout=300):
    marker = b"on postgresql://127.0.0.1:"
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        assert proc.poll() is None, open(log_path, "rb").read()[-2000:]
        with open(log_path, "rb") as f:
            for line in f:
                if marker in line:
                    return int(line.rsplit(b":", 1)[1].strip())
        time.sleep(0.1)
    raise AssertionError("the server did not print its port")


def test_cli_serves_directory_to_two_connections(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "name": ["a", "b", None],
                             "x": [0.5, 1.5, 2.5]}),
                   str(data / "items.parquet"))
    log_path = str(tmp_path / "server.log")
    env = dict(os.environ, PYTHONPATH=ROOT, PYTHONUNBUFFERED="1")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "datafusion_postgres_spark",
             "--directory", str(data), "-p", "0", "--master", "local[2]"],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    try:
        port = _wait_port(proc, log_path)
        first = MiniPgClient("127.0.0.1", port)
        second = MiniPgClient("127.0.0.1", port)
        for c in (first, second):
            res = c.query("SELECT count(*), sum(k) FROM items")
            assert res["rows"] == [["3", "6"]], res
            res = c.query(
                "SELECT a.attname, pg_catalog.format_type(a.atttypid, "
                "a.atttypmod) FROM pg_catalog.pg_attribute a "
                "WHERE a.attrelid = 'items'::regclass AND a.attnum > 0 "
                "AND NOT a.attisdropped ORDER BY a.attnum")
            assert res["rows"] == [["k", "bigint"], ["name", "text"],
                                   ["x", "double precision"]], res
        first.close()
        second.close()
        proc.send_signal(signal.SIGINT)
        assert proc.wait(timeout=120) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
