"""The serving-layer names ``perfbench/tracer.py`` wraps by attribute.

The tracer replaces each of these names on its module or class, so each
must stay a module- or class-level callable under its current name; a
refactor that drops or renames one would otherwise surface only in a
traced benchmark run. The tracer itself is not installed here: it
patches the classes for the whole process.
"""

import importlib

import pytest

PKG = "datafusion_postgres_spark"

WRAPPED = {
    "session": ["ExecutionResult.rows", "ExecutionResult.collect",
                "SparkPgEngine.__post_init__", "SparkPgEngine._execute_one",
                "SparkPgEngine.copy_into"],
    "server.encoder": ["encode_row", "encode_value", "encode_value_binary"],
    "server.pgwire": ["_Conn._send", "_Conn.handle", "_Conn._main_loop"] +
                     [f"_Conn._on_{m}" for m in ("query", "parse", "bind",
                                                 "describe", "execute",
                                                 "sync", "close")] +
                     ["CancelRegistry.register",
                      "PgWireServer.serve_forever"],
    "server.copy_data": ["parse_copy_payload", "parse_copy_binary"],
    "catalog.pg_catalog": ["bootstrap", "refresh", "refresh_settings"],
    "functions": ["register_all"],
    "functions.registry": ["register_all", "register_functions"],
    "functions.pipeline_tvf": ["materialize_pipeline_tvfs",
                               "rewrite_pipeline_tvfs"],
    "server.hooks": ["HookChain.try_handle"],
    "server.prepared": [f"PreparedStatementManager.{m}"
                        for m in ("parse", "describe", "execute")],
    "dialect.transpiler": [f"PostgresTranspiler.{m}"
                           for m in ("transpile", "statement_kind",
                                     "split_statements", "table_names")],
}


@pytest.mark.parametrize(
    "module,name", [(m, n) for m, names in WRAPPED.items() for n in names],
    ids=[f"{m}:{n}" for m, names in WRAPPED.items() for n in names])
def test_wrapped_name_is_callable(module, name):
    owner = importlib.import_module(f"{PKG}.{module}")
    *cls, attr = name.split(".")
    if cls:
        owner = getattr(owner, cls[0])
        assert isinstance(owner, type), name
    assert callable(getattr(owner, attr, None)), f"{module}.{name}"
