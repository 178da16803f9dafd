"""RBAC model: users, roles, grants, role inheritance, per-statement
permission checks.

Reference parity: ``datafusion-postgres/src/auth.rs:13-446`` (AuthManager,
role inheritance resolved recursively, superuser bypass, resource matching
including schema→table prefixes) and ``hooks/permissions.rs:44-92``
(statement kind → required permission mapping). Same semantics,
re-expressed as plain Python over the dialect's one kind table
(``dialect.transpiler.KINDS``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from datafusion_postgres_spark.dialect.transpiler import KINDS, OTHER_KIND


class Permission(Enum):
    SELECT = "select"
    INSERT = "insert"
    UPDATE = "update"
    DELETE = "delete"
    CREATE = "create"
    DROP = "drop"
    ALTER = "alter"
    TRUNCATE = "truncate"
    REFERENCES = "references"
    TRIGGER = "trigger"
    EXECUTE = "execute"
    USAGE = "usage"
    ALL = "all"


@dataclass(frozen=True)
class Resource:
    """A grantable object. schema-level grants cover their tables
    (auth.rs resource matching: schema→table prefix)."""

    kind: str              # "table" | "schema" | "database"
    name: str              # "public.orders" | "public" | "postgres"

    def covers(self, other: "Resource") -> bool:
        if self == other:
            return True
        if self.kind == "database":
            return True
        if self.kind == "schema" and other.kind == "table":
            return other.name.startswith(self.name + ".")
        return False


@dataclass
class Grant:
    permission: Permission
    resource: Resource

    def allows(self, perm: Permission, resource: Resource) -> bool:
        perm_ok = self.permission in (perm, Permission.ALL)
        return perm_ok and self.resource.covers(resource)


@dataclass
class Role:
    name: str
    grants: list[Grant] = field(default_factory=list)
    member_of: list[str] = field(default_factory=list)  # parent roles


@dataclass
class User:
    name: str
    password: str | None = None
    superuser: bool = False
    roles: list[str] = field(default_factory=list)


class PermissionDenied(RuntimeError):
    sqlstate = "42501"


class AuthManager:
    """User/role registry + permission resolution (auth.rs:13-446)."""

    def __init__(self):
        self.users: dict[str, User] = {
            "postgres": User("postgres", superuser=True)}
        self.roles: dict[str, Role] = {}

    # -- management --------------------------------------------------------
    def add_user(self, user: User) -> None:
        self.users[user.name] = user

    def add_role(self, role: Role) -> None:
        self.roles[role.name] = role

    def grant(self, role_name: str, permission: Permission,
              resource: Resource) -> None:
        self.roles.setdefault(role_name, Role(role_name)).grants.append(
            Grant(permission, resource))

    def revoke(self, role_name: str, permission: Permission,
               resource: Resource) -> None:
        role = self.roles.get(role_name)
        if role:
            role.grants = [g for g in role.grants
                           if not (g.permission == permission and
                                   g.resource == resource)]

    # -- resolution --------------------------------------------------------
    def _all_roles(self, names: list[str]) -> list[Role]:
        """Transitive closure over role inheritance (recursive resolution
        with cycle protection, auth.rs)."""
        seen: set[str] = set()
        stack = list(names)
        out = []
        while stack:
            nm = stack.pop()
            if nm in seen:
                continue
            seen.add(nm)
            role = self.roles.get(nm)
            if role:
                out.append(role)
                stack.extend(role.member_of)
        return out

    def check(self, user_name: str, perm: Permission,
              resource: Resource) -> bool:
        user = self.users.get(user_name)
        if user is None:
            return False
        if user.superuser:
            return True
        for role in self._all_roles(user.roles):
            if any(g.allows(perm, resource) for g in role.grants):
                return True
        return False

    def check_statement(self, user_name: str, statement_kind: str,
                        resource: Resource) -> None:
        """Raise PermissionDenied (42501) unless allowed. SET/SHOW/txn
        kinds are exempt (permissions.rs: skipped statement kinds)."""
        required = KINDS.get(statement_kind.upper(), OTHER_KIND).permission
        if required is None:
            return
        perm = Permission(required)
        if not self.check(user_name, perm, resource):
            raise PermissionDenied(
                f"permission denied for user {user_name}: requires "
                f"{perm.value} on {resource.name}")

    def check_table(self, user_name: str, statement_kind: str,
                    table: str) -> None:
        """:meth:`check_statement` on a table; unqualified is public."""
        self.check_statement(user_name, statement_kind, Resource(
            "table", table if "." in table else f"public.{table}"))


# -- password verification (AuthSource analog, auth.rs:461-596) -------------

def verify_cleartext(auth: AuthManager, user: str, password: str) -> bool:
    """A user WITHOUT a stored password fails password auth (28P01) — the
    reference's AuthSource errors rather than treating a missing credential
    as a wildcard. Passwordless access is what password_mode='trust' is
    for (the reference's separate no-auth SimpleAuthSource)."""
    u = auth.users.get(user)
    return u is not None and u.password is not None and u.password == password


def verify_md5(auth: AuthManager, user: str, md5_response: str,
               salt: bytes) -> bool:
    import hashlib

    u = auth.users.get(user)
    if u is None or u.password is None:
        return False
    inner = hashlib.md5((u.password + user).encode()).hexdigest()
    expected = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
    return md5_response == expected


class ScramServer:
    """Server side of SCRAM-SHA-256 (RFC 5802/7677), as negotiated by the
    PostgreSQL SASL exchange (reference: auth.rs scram path).

    The registry stores plaintext passwords, so the salted password is
    derived per-handshake with a fresh random salt (PBKDF2-HMAC-SHA256,
    4096 iterations — libpq's default accepted cost)."""

    ITERATIONS = 4096

    def __init__(self, username: str, password: str):
        import os as _os
        self.username = username
        self.password = password
        self.salt = _os.urandom(16)
        self.server_nonce_part = None
        self.client_first_bare = None
        self.server_first = None
        self.full_nonce = None

    # -- crypto ------------------------------------------------------------
    def _salted_password(self) -> bytes:
        import hashlib
        return hashlib.pbkdf2_hmac("sha256", self.password.encode(),
                                   self.salt, self.ITERATIONS)

    @staticmethod
    def _hmac(key: bytes, msg: str | bytes) -> bytes:
        import hashlib
        import hmac as _hmac
        if isinstance(msg, str):
            msg = msg.encode()
        return _hmac.new(key, msg, hashlib.sha256).digest()

    # -- exchange ----------------------------------------------------------
    def handle_client_first(self, client_first: str) -> str:
        import base64
        import secrets as _secrets
        gs2, _, bare = client_first.partition(",,")
        if gs2 not in ("n", "y") and not gs2.startswith(("n,", "y,")):
            raise ValueError("channel binding not supported")
        if not bare:
            raise ValueError("malformed SCRAM client-first message")
        attrs = dict(p.split("=", 1) for p in bare.split(",") if "=" in p)
        if "m" in attrs:
            raise ValueError("SCRAM extensions not supported")
        cnonce = attrs.get("r")
        if not cnonce:
            raise ValueError("missing client nonce")
        self.client_first_bare = bare
        self.server_nonce_part = _secrets.token_urlsafe(18)
        self.full_nonce = cnonce + self.server_nonce_part
        self.server_first = (
            f"r={self.full_nonce},"
            f"s={base64.b64encode(self.salt).decode()},"
            f"i={self.ITERATIONS}")
        return self.server_first

    def handle_client_final(self, client_final: str) -> str:
        import base64
        import hashlib
        import hmac as _hmac
        attrs = dict(p.split("=", 1) for p in client_final.split(",")
                     if "=" in p)
        if attrs.get("r") != self.full_nonce:
            raise ValueError("nonce mismatch")
        proof_b64 = attrs.get("p")
        if not proof_b64:
            raise ValueError("missing proof")
        without_proof = client_final[:client_final.rindex(",p=")]
        auth_message = (f"{self.client_first_bare},{self.server_first},"
                        f"{without_proof}")
        salted = self._salted_password()
        client_key = self._hmac(salted, "Client Key")
        stored_key = hashlib.sha256(client_key).digest()
        client_sig = self._hmac(stored_key, auth_message)
        proof = base64.b64decode(proof_b64)
        recovered_key = bytes(a ^ b for a, b in zip(proof, client_sig))
        if not _hmac.compare_digest(hashlib.sha256(recovered_key).digest(),
                                    stored_key):
            raise ValueError("authentication failed")
        server_key = self._hmac(salted, "Server Key")
        server_sig = self._hmac(server_key, auth_message)
        return "v=" + base64.b64encode(server_sig).decode()
