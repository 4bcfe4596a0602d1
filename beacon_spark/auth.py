"""Users / roles / grants with deny-wins read authorization.

The Spark-side analog of the reference's auth stack
(``beacon-db/beacon-auth/src/role.rs`` — roles hold grant and deny rule
sets; ``statement_plan/authz.rs:25-41`` — every read target needs
``Select``, deny-wins, default-deny; ``statement_plan/mod.rs:58-78`` —
DDL/DML/statements are gated on the super-user flag).

Model, persisted in the catalog JSON under ``"auth"``:

    auth.users[name]  = {password: "pbkdf2$...", roles: [...],
                         super_user: bool}
    auth.roles[name]  = {grants: [rule...], denies: [rule...]}
    rule              = {privilege: SELECT|INSERT|UPDATE|DELETE|CREATE|
                         DROP|ALL,
                         target: null | {"all": true} | {"table": name}
                                | {"path": glob}}
    auth.enforce      = bool (default false — grants gate reads only
                        when enforcement is on, like the reference's
                        runtime flag; the super-user gate on DDL/DML is
                        unconditional once a caller identity is given)

Statement surface (mirrors ``parser/statement.rs:141-211``)::

    CREATE USER u WITH PASSWORD 'pw' [SUPERUSER]
    DROP USER u
    CREATE ROLE r / DROP ROLE r
    GRANT ROLE r TO USER u / REVOKE ROLE r FROM USER u
    GRANT <priv> [ON TABLE t | ON PATH 'glob' | ON ALL] TO ROLE r
    DENY  <priv> [ON ...] TO ROLE r
    REVOKE [DENY] <priv> [ON ...] FROM ROLE r
    SET AUTH ENFORCEMENT ON|OFF
    SHOW USERS / SHOW ROLES

Identity threading: ``Engine.sql(stmt, user="alice")``. ``user=None``
is the embedded caller — the implicit super-user, exactly the
reference's default identity when no auth is configured. Divergence
(documented): passwords hash with PBKDF2-HMAC-SHA256 (no Argon2 in the
stdlib).

Reads are checked where they resolve, for a restricted caller under
enforcement (:class:`ReadGate`): ``Engine.resolve_from(spec, user=…)``
checks a from-spec's paths and a table name before opening anything
(SQL ``read_*`` calls, nd reads, the DSL, ``Connection.read``), and
``Engine.sql`` walks the analyzed plan the way the reference checks
every TableScan (authz.rs:25-41) — so names Spark resolves itself
(``IDENTIFIER(…)``, subqueries, CTEs) are checked, and a column alias
is not a read. Views are DEFINER-rights objects (PostgreSQL
semantics): the walk checks a view and does not descend into it, so a
SELECT grant on a view authorizes its whole definition — grant views
deliberately, as the curated projections they are. A session temp
view outside the catalog is checked like any view: default-denied
unless its name (or ALL) is granted. ``Engine.sql`` decides from Spark's
parse whether a statement may write; a restricted caller only reads.
"""

from __future__ import annotations

import fnmatch
import hashlib
import re
import secrets

__all__ = [
    "AuthError", "WriteRefused", "ReadGate",
    "authorize_dsl", "read_gate", "require_super", "verify_user",
    "hash_password", "is_allowed", "is_internal", "INTERNAL_PREFIXES",
]

PRIVILEGES = {"SELECT", "INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALL"}


class AuthError(PermissionError):
    pass


class WriteRefused(AuthError):
    """A write from a caller or call that may only read."""


INTERNAL_NAMES = "permission denied: internal __beacon* names are super-user-only"
METADATA_SCHEMAS = "permission denied: metadata schemas are super-user-only"
#: refusals of a write: a restricted caller's (mod.rs:63-70), a read-only call's
SUPER_ONLY = ("operation not permitted: this statement requires super-user "
              "privileges")
READ_ONLY = "operation not permitted: this call is read-only"


# ------------------------------------------------------------ passwords

def hash_password(pw: str, iterations: int = 100_000) -> str:
    salt = secrets.token_hex(16)
    dk = hashlib.pbkdf2_hmac(
        "sha256", pw.encode(), bytes.fromhex(salt), iterations
    )
    return f"pbkdf2${iterations}${salt}${dk.hex()}"


def check_password(pw: str, stored: str) -> bool:
    try:
        _, iters, salt, want = stored.split("$")
        dk = hashlib.pbkdf2_hmac(
            "sha256", pw.encode(), bytes.fromhex(salt), int(iters)
        )
        return secrets.compare_digest(dk.hex(), want)
    except (ValueError, TypeError):
        return False


_DUMMY_HASH = hash_password("beacon-dummy-timing-pad")


def verify_user(engine, username: str, pw: str) -> bool:
    """Transport-side credential check (HTTP Basic → engine identity).
    Unknown usernames still pay the full PBKDF2 cost against a dummy
    hash — an early return would be a remote timing oracle enumerating
    valid usernames."""
    a = _auth(engine.catalog._load())
    u = a["users"].get(username)
    if not u:
        check_password(pw, _DUMMY_HASH)
        return False
    return check_password(pw, u.get("password", ""))


# ------------------------------------------------------------ evaluator

def _auth(cat: dict) -> dict:
    a = cat.setdefault("auth", {})
    a.setdefault("users", {})
    a.setdefault("roles", {})
    a.setdefault("enforce", False)
    return a


def _rule_matches(rule: dict, privilege: str, target: tuple[str, str]) -> bool:
    if rule["privilege"] not in (privilege, "ALL"):
        return False
    t = rule.get("target")
    if t is None or t.get("all"):
        return True
    kind, value = target
    if "table" in t:
        return kind == "table" and value == t["table"]
    if "path" in t:
        return kind == "path" and fnmatch.fnmatch(value, t["path"])
    return False


def is_allowed(auth: dict, roles: list[str], privilege: str,
               *targets: tuple[str, str]) -> bool:
    """Deny-wins over the user's roles and every spelling in
    ``targets``: ANY target matching a deny denies; otherwise ANY
    matching a grant allows; default-deny (role.rs:322-344)."""
    matched = [auth["roles"][r] for r in roles if r in auth["roles"]]

    def hit(kind: str) -> bool:
        return any(_rule_matches(rule, privilege, t)
                   for role in matched for rule in role.get(kind, [])
                   for t in targets)

    return not hit("denies") and hit("grants")


# ------------------------------------------------------------ authorize

#: store areas owned by the engine's own machinery (catalog, stats,
#: posting indexes) — the reference's INTERNAL_PREFIX analog: system
#: state, outside every user grant
INTERNAL_PREFIXES = (".beacon_catalog", ".beacon_stats", "__beacon__")


_INTERNAL_SEGMENT_RE = re.compile(
    "(?:^|/)(?:{})(?:/|$)".format("|".join(map(re.escape, INTERNAL_PREFIXES))))


def is_internal(path: str) -> bool:
    """Whether a segment of ``path`` names the engine's own state."""
    return _INTERNAL_SEGMENT_RE.search(path) is not None


def _path_candidates(engine, path: str) -> set[str]:
    """The spellings a path rule must be checked against: as written,
    normalized (``./hidden.parquet`` ≡ ``hidden.parquet`` — an alternate
    spelling must not dodge a DENY), and resolved against the engine's
    datasets root (the form the reader actually opens); a ``file:`` URI
    as the local path it names."""
    import posixpath

    out = {path}
    if path.startswith("file:"):
        path = re.sub(r"^file:(?://)?(?=/)", "", path)
    out |= {path, posixpath.normpath(path)}
    root = getattr(engine, "datasets_root", None)
    if root is None or "://" in path:
        return out
    if not path.startswith("/"):
        joined = posixpath.normpath(f"{root}/{path}")
        out.add(joined)
        out.add(joined[len(root):].lstrip("/"))
    else:
        # absolute spelling of a file under the root must also hit
        # relative-form rules — '/root/data/x.parquet' ≡ 'x.parquet'
        norm = posixpath.normpath(path)
        nroot = posixpath.normpath(str(root))
        if norm == nroot or norm.startswith(nroot.rstrip("/") + "/"):
            rel = norm[len(nroot):].lstrip("/")
            if rel:
                out.add(rel)
                out.add(f"./{rel}")
    return out


class ExternalPrincipal(str):
    """A username authenticated by an EXTERNAL IdP (OIDC bearer token):
    the roles ride ON the principal (snapshotted from the verified
    token), and the local user directory NEVER resolves it — a token
    whose username claim collides with a local user (even a super-user)
    must not inherit that user's local privileges, and a directory
    lookup keyed by the bare name would do exactly that. str subclass,
    so grants/metrics/logging treat it as the plain username."""

    __slots__ = ("roles",)

    def __new__(cls, name: str, roles=()):
        self = super().__new__(cls, name)
        self.roles = list(roles)
        return self


def _resolve_ident(engine, a: dict, user: str) -> dict | None:
    """Directory user, or an EXTERNAL principal (OIDC/IdP-verified):
    the IdP owns the user, the token's role names map onto the local
    role/grant model, and external principals are NEVER super-users
    (reference oidc.rs:1-8 — the provider holds no user directory).
    The two populations never cross-resolve: an external principal is
    answered from its token roles even when a directory user shares
    the name, and a directory user never picks up token roles."""
    if isinstance(user, ExternalPrincipal):
        return {"roles": list(user.roles), "super_user": False}
    return a["users"].get(user)


def _restricted(engine, user: str | None) -> tuple[dict, dict] | None:
    """The auth section and identity of a caller the gates apply to;
    ``None`` for the embedded caller (``user=None``) and super-users.
    An unknown user raises."""
    if user is None:
        return None
    a = _auth(engine.catalog._load() if engine.catalog is not None else {})
    ident = _resolve_ident(engine, a, user)
    if ident is None:
        raise AuthError(f"unknown user {user!r}")
    return None if ident.get("super_user") else (a, ident)


class ReadGate:
    """The SELECT checks of one restricted caller: deny-wins,
    default-deny, through :func:`is_allowed`; with enforcement off all
    pass but a path into the engine's own state."""

    def __init__(self, engine, auth: dict, ident: dict):
        self.engine, self.auth, self.roles = engine, auth, ident.get("roles", [])
        self.enforce = bool(auth.get("enforce"))

    def allows_table(self, name: str) -> bool:
        # a dotted name is no catalog table: spark.table scans fmt.`path`
        return not self.enforce or bool(re.fullmatch(r"\w+", name)) and \
            is_allowed(self.auth, self.roles, "SELECT", ("table", name))

    def table(self, name: str) -> None:
        if not self.allows_table(name):
            raise AuthError(f"permission denied: SELECT on table {name!r}")

    def path(self, path: str) -> None:
        if not self.allows_path(path):
            raise AuthError(f"permission denied: SELECT on path {path!r}")

    def allows_path(self, path: str) -> bool:
        """Deny-wins across every spelling: ANY candidate matching a
        deny denies; otherwise ANY candidate matching a grant allows. A
        glob additionally checks every CONCRETE file the engine will
        expand it to — a char-class spelling like ``[s]ecret/x`` must
        not dodge a deny aimed at ``secret/*`` (the rules match text;
        the reader matches files). A spelling with an engine-owned
        segment (:func:`is_internal`) is refused whatever the
        enforcement; with enforcement off a glob is expanded only when
        it could match one."""
        cands = _path_candidates(self.engine, path)
        globs = [seg for seg in path.split("/") if any(c in seg for c in "*?[")]
        if globs and (self.enforce or any(
                fnmatch.fnmatch(p, g) for g in globs for p in INTERNAL_PREFIXES)):
            from beacon_spark.sources.paths import resolve_globs

            try:
                resolved = resolve_globs(path, self.engine.datasets_root)
            except FileNotFoundError:
                resolved = []  # nothing matches → the read itself will fail
            except Exception as exc:
                # fail CLOSED: a transient listing/storage error must not
                # skip the concrete-file checks this expansion exists for
                raise AuthError(
                    f"permission denied: SELECT on path {path!r} "
                    f"(glob expansion failed: {exc})")
            for rp in resolved:
                cands |= _path_candidates(self.engine, rp)
        if any(is_internal(c) for c in cands):
            return False
        return not self.enforce or is_allowed(
            self.auth, self.roles, "SELECT", *[("path", c) for c in cands])

    def source(self, cfg) -> None:
        """Every path of one from-spec's ``{"paths": …}`` (or its
        ``location``); a spec naming none fails closed."""
        paths = cfg.get("paths") if isinstance(cfg, dict) else None
        if paths is None and isinstance(cfg, dict) and cfg.get("location"):
            paths = [cfg["location"]]
        if isinstance(paths, str):
            # the engine accepts a bare string (resolve_globs wraps it);
            # iterating it here would authorize per CHARACTER
            paths = [paths]
        if not paths and self.enforce:
            raise AuthError("permission denied: unresolvable DSL from target")
        for p in paths or ():
            self.path(str(p))


def read_gate(engine, user: str | None) -> ReadGate | None:
    """``user``'s read checks (authz.rs:25-41); ``None`` for the
    embedded caller or a super-user, who are not restricted."""
    restricted = _restricted(engine, user)
    return None if restricted is None else ReadGate(engine, *restricted)


def resolve_unauthenticated(engine) -> str | None:
    """Identity for a credential-less call on a token-less server —
    ONE rule for every transport (HTTP, Flight).

    Enforcement off → ``None`` (the embedded super-user: open server,
    embedded mode). Enforcement on → the provisioned ``anonymous``
    principal (``CREATE USER anonymous`` — the reference's
    ``set_anonymous_user`` contract, beacon-auth/context.rs:12,131-148),
    or :class:`AuthError` when none exists. A catalog read failure also
    raises — this gate must fail CLOSED: a transient store error while
    enforcement is on must never escalate a stranger to embedded super.
    """
    if engine.catalog is None:
        return None
    import time as _time

    now = _time.monotonic()
    cached = getattr(engine, "_unauth_cache", None)
    if cached is not None and cached[0] > now:
        ok, val = cached[1]
        if ok:
            return val
        raise AuthError(val)

    def _remember(ok, val):
        # 2 s TTL: this runs on EVERY credential-less request (health
        # probes, each Flight call) and a full catalog read per request
        # is store traffic on the hot path; 2 s bounds the staleness of
        # an enforcement flip, and failures cache too (still closed)
        engine._unauth_cache = (now + 2.0, (ok, val))

    try:
        a = _auth(engine.catalog._load())
    except Exception as e:  # noqa: BLE001 — any load failure = closed
        msg = f"auth state unavailable: {e}"
        _remember(False, msg)
        raise AuthError(msg) from e
    if not a.get("enforce"):
        _remember(True, None)
        return None
    if "anonymous" in a["users"]:
        _remember(True, "anonymous")
        return "anonymous"
    msg = ("authentication required (enforcement is on and no anonymous "
           "principal exists)")
    _remember(False, msg)
    raise AuthError(msg)


def require_super(engine, user: str | None, msg: str) -> None:
    """Raise unless ``user`` is the embedded caller or a super-user."""
    if _restricted(engine, user) is not None:
        raise AuthError(msg)


def authorize_dsl(engine, body: dict, user: str | None) -> None:
    """Gate what a JSON-DSL body does besides reading, for ``user``: an
    ``output`` block writes files, so it stays super-user-only, and an
    internal ``__beacon*`` name is refused whatever the enforcement.
    The ``from`` it reads is checked where ``Engine.resolve_from``
    resolves it."""
    if _restricted(engine, user) is None:
        return
    if body.get("output"):
        raise AuthError(
            "operation not permitted: DSL file output requires super-user "
            "privileges"
        )
    spec = body.get("from")
    if isinstance(spec, str) and spec.lower().startswith("__beacon"):
        raise AuthError(INTERNAL_NAMES)


# ------------------------------------------------------------ statements
# the auth rows' handlers (beacon_spark.statements holds their patterns
# and access rules; the auth DDL is super-user-only, as the reference
# routes AuthStatement through the same super-user gate)

def _parse_target(tbl, path, allkw) -> dict | None:
    if tbl:
        return {"table": tbl}
    if path:
        return {"path": path}
    if allkw:
        return {"all": True}
    return None


def _priv(p: str) -> str:
    p = p.upper()
    if p not in PRIVILEGES:
        raise AuthError(f"unknown privilege {p!r}")
    return p


def _edit(fn):
    """An auth-DDL handler from ``fn(a, m) -> (op, name)``, which edits
    the loaded auth section ``a``: the section is committed and the
    statement answers its status frame."""
    def handler(engine, m, _call):
        cat = engine.catalog._load()
        op, name = fn(_auth(cat), m)
        # commit through _mutate (lock + merge-on-conflict): a raw
        # whole-document save here erased concurrent non-auth catalog
        # commits (CREATE TABLE etc.). The auth SECTION replaces
        # wholesale — auth DDL is serialized admin activity, and the
        # merge protects the rest of the catalog.
        auth_doc = cat["auth"]
        engine.catalog._mutate(lambda doc: doc.__setitem__("auth", auth_doc))
        # auth changed: the unauthenticated-resolution TTL cache must
        # not serve a pre-change decision in this process
        engine.__dict__.pop("_unauth_cache", None)
        return engine._status(status="ok", op=op, name=name)
    return handler


@_edit
def create_user(a, m):
    name, pw, sup = m.group(1), m.group(2).replace("''", "'"), m.group(3)
    if name in a["users"]:
        raise AuthError(f"user {name!r} already exists")
    a["users"][name] = {"password": hash_password(pw), "roles": [],
                        "super_user": bool(sup)}
    return "create_user", name


@_edit
def drop_user(a, m):
    if a["users"].pop(m.group(1), None) is None:
        raise AuthError(f"unknown user {m.group(1)!r}")
    return "drop_user", m.group(1)


@_edit
def create_role(a, m):
    name = m.group(1)
    if name in a["roles"]:
        raise AuthError(f"role {name!r} already exists")
    a["roles"][name] = {"grants": [], "denies": []}
    return "create_role", name


@_edit
def drop_role(a, m):
    name = m.group(1)
    if a["roles"].pop(name, None) is None:
        raise AuthError(f"unknown role {name!r}")
    for u in a["users"].values():
        u["roles"] = [r for r in u.get("roles", []) if r != name]
    return "drop_role", name


@_edit
def grant_role(a, m):
    role, uname = m.group(1), m.group(2)
    if role not in a["roles"]:
        raise AuthError(f"unknown role {role!r}")
    if uname not in a["users"]:
        raise AuthError(f"unknown user {uname!r}")
    if role not in a["users"][uname]["roles"]:
        a["users"][uname]["roles"].append(role)
    return "grant_role", role


@_edit
def revoke_role(a, m):
    role, uname = m.group(1), m.group(2)
    if uname not in a["users"]:
        raise AuthError(f"unknown user {uname!r}")
    a["users"][uname]["roles"] = [
        r for r in a["users"][uname]["roles"] if r != role]
    return "revoke_role", role


def _rules(a: dict, role: str, key: str) -> list:
    if role not in a["roles"]:
        raise AuthError(f"unknown role {role!r}")
    return a["roles"][role][key]


def _add_rule(key: str, op: str):
    @_edit
    def add(a, m):
        rule = {"privilege": _priv(m.group(1)),
                "target": _parse_target(m.group(2), m.group(3), m.group(4))}
        rules = _rules(a, m.group(5), key)
        if rule not in rules:
            rules.append(rule)
        return op, m.group(5)
    return add


grant_priv = _add_rule("grants", "grant_priv")
deny_priv = _add_rule("denies", "deny_priv")


@_edit
def revoke_priv(a, m):
    priv, role = _priv(m.group(2)), m.group(6)
    rule = {"privilege": priv,
            "target": _parse_target(m.group(3), m.group(4), m.group(5))}
    key = "denies" if m.group(1) else "grants"
    a["roles"][role][key] = [r for r in _rules(a, role, key) if r != rule]
    return "revoke_priv", role


@_edit
def set_enforce(a, m):
    a["enforce"] = m.group(1).upper() == "ON"
    return "set_auth_enforcement", "on" if a["enforce"] else "off"


def show_users(engine, m, _call):
    # is_anonymous marks the unauthenticated-caller principal
    # (context.rs:12; the reference's user listing carries both
    # is_super_user and is_anonymous flags, test_rbac.py:88-95)
    a = _auth(engine.catalog._load())
    rows = [(n, bool(u.get("super_user")), n == "anonymous",
             ",".join(sorted(u.get("roles", []))))
            for n, u in sorted(a["users"].items())]
    return engine.spark.createDataFrame(
        rows, "user_name string, super_user boolean, is_anonymous boolean, "
        "roles string")


def show_roles(engine, m, _call):
    a = _auth(engine.catalog._load())
    rows = [(n, len(r.get("grants", [])), len(r.get("denies", [])))
            for n, r in sorted(a["roles"].items())]
    return engine.spark.createDataFrame(
        rows, "role_name string, grants int, denies int")
