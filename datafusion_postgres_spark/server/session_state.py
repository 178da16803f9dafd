"""Per-connection session state.

Reference parity: client metadata (``datafusion-postgres/src/client.rs:4-52``)
+ the no-op transaction state machine (``hooks/transactions.rs:16-131``):
BEGIN/COMMIT/ROLLBACK are acknowledged and tracked (Idle / Transaction /
Error) but provide no real transactional semantics — statements in a failed
transaction are rejected with SQLSTATE 25P01 until ROLLBACK.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class TxnState(Enum):
    IDLE = "idle"
    TRANSACTION = "transaction"
    ERROR = "error"


DEFAULT_SESSION_VARS = {
    "statement_timeout": "0",
    "timezone": "UTC",
    "datestyle": "ISO, MDY",
    "bytea_output": "hex",
    "search_path": '"$user", public',
    "application_name": "",
    "extra_float_digits": "1",
    "client_encoding": "UTF8",
    "standard_conforming_strings": "on",
    "transaction_isolation": "read uncommitted",
    "server_version": "15.0 (datafusion-postgres-spark)",
    "integer_datetimes": "on",
    "intervalstyle": "postgres",
    "is_superuser": "on",
    "server_encoding": "UTF8",
    "session_authorization": "postgres",
}

# Vars whose changes emit a ParameterStatus message on the wire
PARAMETER_STATUS_VARS = {"client_encoding", "datestyle", "timezone",
                         "standard_conforming_strings", "application_name",
                         "integer_datetimes"}


@dataclass
class Cursor:
    schema: object
    iterator: object


@dataclass
class SessionState:
    vars: dict[str, str] = field(
        default_factory=lambda: dict(DEFAULT_SESSION_VARS))
    txn: TxnState = TxnState.IDLE
    cursors: dict[str, Cursor] = field(default_factory=dict)

    # -- transaction machine (transactions.rs:16-131) ----------------------
    def begin(self) -> str:
        if self.txn in (TxnState.TRANSACTION, TxnState.ERROR):
            # nested BEGIN: warn + succeed, like Postgres
            return "BEGIN"
        self.txn = TxnState.TRANSACTION
        return "BEGIN"

    def commit(self) -> str:
        was_error = self.txn == TxnState.ERROR
        self.txn = TxnState.IDLE
        return "ROLLBACK" if was_error else "COMMIT"

    def rollback(self) -> str:
        self.txn = TxnState.IDLE
        return "ROLLBACK"

    def statement_failed(self) -> None:
        if self.txn == TxnState.TRANSACTION:
            self.txn = TxnState.ERROR

    def in_failed_transaction(self) -> bool:
        return self.txn == TxnState.ERROR

    # -- session vars ------------------------------------------------------
    def set_var(self, name: str, value: str) -> None:
        self.vars[name.lower()] = value

    def get_var(self, name: str) -> str:
        return self.vars.get(name.lower(), "")

    def statement_timeout_secs(self) -> float:
        raw = self.vars.get("statement_timeout", "0").strip().lower()
        try:
            if raw.endswith("min"):
                return float(raw[:-3]) * 60
            if raw.endswith("ms"):
                return float(raw[:-2]) / 1000.0
            if raw.endswith("s"):
                return float(raw[:-1])
            return float(raw) / 1000.0  # bare number = milliseconds
        except ValueError:
            return 0.0
