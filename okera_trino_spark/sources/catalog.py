"""Governed parquet catalog — the Spark-first equivalent of the reference
connector's metadata/scan layer.

Reference semantics reproduced here (all citations into /root/reference):

- Catalog/schema/table listings with a registry
  (RecordServiceMetadata.java:166-282).
- Column-level authorization: columns the user cannot access are silently
  dropped from the visible schema (RecordServiceMetadata.java:804) — here a
  ``select`` wrapped around the scan before the DataFrame is exposed, so
  Catalyst prunes them out of the parquet read entirely.
- Row-level policies ("internal views" evaluated server-side,
  RecordServiceMetadata.java:109-118) — a filter applied at scan time.
- Sampled catalog variants ``okera_sampled_10mb`` / ``okera_sampled_100mb``
  (RecordServicePlugin.java:61-67, RecordServiceConfig.java:404-422): the
  reference caps *bytes scanned*; the Spark-native idiom is a fraction
  sample pushed to the scan, with the fraction derived from the byte cap
  and the table's on-disk size.
- Session properties ``limit`` / ``sampling_value``
  (RecordServiceSessionProperties.java:26-59) applied to every governed read.
- Listing caps: max 100 schemas / 50 tables per wildcard listing
  (RecordServiceMetadata.java:84-85).

Scan execution itself is Spark's DataSource V2 parquet reader — vectorized
columnar decode, split planning, locality, predicate/projection/limit
pushdown are all Catalyst-native (the reference hand-rolls these in
RecordServicePageSource.java / RecordServiceSplitManagerImpl.java).
"""

from __future__ import annotations

import itertools
import os
import re
import time
from dataclasses import dataclass, field
from typing import Callable
from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fixture tables (TESTDATA.md). One parquet file per table.
TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: Schema namespaces — the reference models a real catalog tree
#: (RecordServiceMetadata.java:166-189 listSchemaNames): relational
#: fixtures live in ``default``; the LLM-pipeline tables get their own
#: namespace. ``information_schema`` exists but is engine-internal and
#: never listed (RecordServiceMetadata.java:82,549-553).
SCHEMAS: dict[str, list[str]] = {
    "default": ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events"],
    "llm": ["documents", "embeddings"],
}
HIDDEN_SCHEMAS = ("information_schema",)

# Reference listing caps (RecordServiceMetadata.java:84-85).
MAX_SCHEMAS_LISTED = 100
MAX_TABLES_LISTED = 50


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Analyzed-plan memo: session → {(sf_dir, table) → DataFrame}. A
#: DataFrame is an immutable logical plan, so reuse is safe; this is the
#: Spark-side analogue of the reference's per-query metadata snapshot
#: cache (RecordServiceMetadata.java:102-107, BoundedCache size 512) —
#: it saves the file-listing + footer-schema round trip on every
#: repeated table reference, which at fixture scale is most of a
#: query's latency and on a cluster is a driver→storage metadata call.
#: WeakKeyDictionary: entries (and their pinned plans) die with the
#: session — an ``id(spark)`` key could be reused by a new session after
#: GC and hand out DataFrames bound to a dead one.
_TABLE_MEMO: WeakKeyDictionary = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plain governed-free scan. Catalyst owns splits + pushdown.

    ``events.ts`` has shipped in two fixture shapes and the loader must
    accept both — the fixture generator is not under this repo's
    control:

    * parquet TIMESTAMP(NANOS) — Spark's reader rejects it outright
      (PARQUET_TYPE_ILLEGAL), so with the ``nanosAsLong`` legacy conf it
      arrives as int64 epoch-nanos. The engine adopts the reference's
      own semantics — truncate nanos to micros
      (RecordServicePageSource.java:353-366, drops the 4 nano bytes) —
      rebuilding a TIMESTAMP_NTZ via integer microsecond arithmetic.
      Integer ``div`` (not ``/``) matters: double division of
      epoch-nanos loses sub-µs precision at 2^61 magnitudes.
    * parquet timestamp[us] — arrives as TIMESTAMP_NTZ (or TIMESTAMP if
      the file is UTC-adjusted) and needs no rebuild; at most a
      reinterpret-cast to NTZ so downstream window/interval arithmetic
      and the DuckDB oracle see identical wall-clock values.

    The dtype is sniffed from the analyzed schema, so a fixture
    regeneration switching shapes cannot break the engine
    (tests/test_catalog.py::test_events_ts_fixture_shapes covers both).
    """
    per_session = _TABLE_MEMO.setdefault(spark, {})
    memo = per_session.get((sf_dir, name))
    if memo is not None:
        return memo
    if name == "events":
        # nanosAsLong is an engine default (session._BUILD_CONFS); set it
        # here too — runtime-settable — so externally built sessions (the
        # driver supplies its own) read events identically. Harmless for
        # micros fixtures: the conf only affects TIMESTAMP(NANOS) columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn(
                "ts",
                F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
            )
        # TimestampType/TimestampNTZType: handled by the normalize pass.
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    df = _normalize_timestamps(df)
    per_session[(sf_dir, name)] = df
    return df


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Canonicalize every session-zoned TIMESTAMP column to
    TIMESTAMP_NTZ wall-clock. The fixture generator (driver-owned, not
    this repo's) has already switched parquet timestamp encodings once
    mid-build; if it ever writes isAdjustedToUTC=true micros, Spark
    reads TimestampType while DuckDB renders the same instants as
    UTC wall-clock — this reinterpret (sessions pin UTC, session.py)
    keeps both engines on identical wall-clock values for ANY fixture
    shape. A no-op (plan-identical) when all timestamps already load
    as NTZ, which is the current shape for every table."""
    tz_cols = [f.name for f in df.schema.fields
               if isinstance(f.dataType, T.TimestampType)]
    for c in tz_cols:
        df = df.withColumn(c, F.to_timestamp_ntz(c))
    return df


#: Bumped on every raw (ungoverned) temp-view registration; part of the
#: GovernedCatalog._register_governed memo key so interleaved raw
#: registrations can never be mistaken for current governed views.
_RAW_REGISTRATIONS = 0

#: SESSION-GLOBAL governed-view registration stamp: session → (catalog
#: serial, user, policy epoch, raw registrations) of the views currently
#: registered on that session's temp-view namespace. Temp views are
#: session state, so the stamp must live with the session, not the
#: catalog instance — with an instance-local memo, catalog B could skip
#: re-registration while catalog A's governed views (different
#: user/policies) are what's actually registered, silently running B's
#: SQL under A's governance. Serials are monotonic (never reused after
#: GC, unlike id()).
_GOVERNED_STAMP: WeakKeyDictionary = WeakKeyDictionary()
_CATALOG_SERIAL = itertools.count()


def register_tables(spark: SparkSession, sf_dir: str,
                    names: list[str] | None = None) -> dict[str, DataFrame]:
    """Register fixture tables as temp views (idempotent) and return them.

    Temp-view registration lets query implementations use ``spark.sql``
    where SQL is the clearer declaration; Catalyst compiles both API
    styles to the same plans.
    """
    global _RAW_REGISTRATIONS
    _RAW_REGISTRATIONS += 1
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


#: (sf_dir, name) -> uncompressed data bytes; fixture files are immutable,
#: so one footer read per table per process (read_metadata: no open handle).
_DATA_BYTES_MEMO: dict[tuple[str, str], int] = {}


def _uncompressed_bytes(sf_dir: str, name: str) -> int:
    key = (sf_dir, name)
    hit = _DATA_BYTES_MEMO.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq
    meta = pq.read_metadata(table_path(sf_dir, name))
    data_bytes = sum(meta.row_group(i).total_byte_size
                     for i in range(meta.num_row_groups))
    if data_bytes <= 0:  # footer reports nothing — fall back to disk size
        data_bytes = os.path.getsize(table_path(sf_dir, name))
    _DATA_BYTES_MEMO[key] = data_bytes
    return data_bytes


def _masked(col: str, kind: str) -> Column:
    """Mask expression for one governed column (see TablePolicy.column_masks)."""
    c = F.col(col)
    if kind == "hash":
        return F.sha2(c.cast("string"), 256)
    if kind == "partial":
        return F.concat(F.substring(c.cast("string"), 1, 2), F.lit("***"))
    if kind == "null":
        return F.lit(None).cast("string")
    raise ValueError(f"unknown mask kind {kind!r}; one of hash/partial/null")


@dataclass
class AuditRecord:
    """One query-completion audit event.

    Field set mirrors the reference's event listener payload
    (OkeraEventListener.java:26-67): query id, user, wall time, success,
    error message, and the (raw) SQL/plan description.
    """
    query_id: int
    user: str
    sql: str
    start_time: float
    elapsed_ms: float
    success: bool
    error: str | None = None


@dataclass
class TablePolicy:
    """Per-table governance: visible columns, a row filter, and column
    masks.

    ``allowed_columns=None`` means all columns visible. ``row_filter`` is a
    SQL boolean expression evaluated against the table's columns — the
    "internal view" the reference's planner applies server-side.
    ``column_masks`` maps column → mask kind; the Okera server rewrites
    governed columns before the connector ever sees bytes (the connector
    surface is schema-only, RecordServiceMetadata.java:770-815), so the
    Spark-side analogue is a projection transform applied at read:

    - ``"hash"``: sha2-256 hex (join-stable pseudonymization — equal
      inputs stay equal, so governed keys still join);
    - ``"partial"``: first 2 chars + ``***`` (human-debuggable redaction);
    - ``"null"``: value nulled, column retained (schema-stable).

    All three are scan-local expressions: masking costs one projection,
    never a shuffle, and Catalyst still prunes/pushes around it.
    """
    allowed_columns: list[str] | None = None
    row_filter: str | None = None
    column_masks: dict[str, str] | None = None


@dataclass
class SessionProperties:
    """Reference session properties (RecordServiceSessionProperties.java:26-59).

    ``limit``: cap rows returned by every governed scan (the reference
    pushes it into the worker via ctx.setLimit,
    RecordServiceSplitManagerImpl.java:270-282).
    ``sampling_value``: byte cap for sampled scans
    (ctx.setSampleMaxDataSizeBytes, RecordServiceConfig.java:404-422).
    ``user``: identity consumed by the column/row policies (the reference
    authenticates via OkeraAuthenticator; here identity is an input).
    """
    user: str = "root"
    limit: int | None = None
    sampling_bytes: int | None = None
    stats_mode: str = "okera"


class GovernedCatalog:
    """Schema registry + governed reads + view store + audit log.

    The three catalog flavors the reference registers
    (RecordServicePlugin.java:61-67) map to ``sample_bytes`` presets:
    ``GovernedCatalog(...)`` = ``okera``, ``sample_bytes=10MB/100MB`` =
    the ``okera_sampled_*`` variants.
    """

    def __init__(self, spark: SparkSession, sf_dir: str,
                 catalog_name: str = "okera",
                 sample_bytes: int | None = None,
                 sample_mode: str = "fraction",
                 authenticator=None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.catalog_name = catalog_name
        self.sample_bytes = sample_bytes
        #: C19 auth hook (sources/auth.py). None → unauthenticated
        #: library use; set one and call login() to gate the session
        #: identity through password/token verification.
        self.authenticator = authenticator
        if sample_mode not in ("fraction", "prefix"):
            raise ValueError(f"sample_mode must be fraction|prefix, got {sample_mode!r}")
        self.sample_mode = sample_mode
        self.props = SessionProperties()
        self._policies: dict[str, dict[str, TablePolicy]] = {}  # user -> table -> policy
        self._views: dict[str, str] = {}  # view name -> SQL text (external views)
        #: PREPARE name FROM <sql> statements (the Trino JDBC/client
        #: prepared-statement surface); EXECUTE binds ? params.
        self._prepared: dict[str, str] = {}
        self._audit: list[AuditRecord] = []
        self._next_query_id = 0
        self._delegations: dict[str, set[str]] = {}  # delegate -> allowed targets
        #: governed temp-view registration memo: this catalog's identity
        #: in the session-global _GOVERNED_STAMP — back-to-back queries
        #: by the same user through the same catalog skip the 10-table
        #: re-registration; any other catalog instance touching the
        #: session invalidates the skip (see _GOVERNED_STAMP).
        self._policy_epoch = 0
        self._serial = next(_CATALOG_SERIAL)
        self._cached: dict[tuple[str, str], DataFrame] = {}  # (user, name) -> pinned governed plan
        #: per-user metadata/stats cache with TTL; 0 disables caching —
        #: the reference's default (RecordServiceMetadata.java:97-107,
        #: okera.metadata.cache.ttl defaulting to disabled).
        self.stats_ttl_seconds: float = 0.0
        self._stats_cache: dict[tuple[str, str], tuple[float, dict]] = {}

    # ------------------------------------------------------------- listings
    def list_schemas(self) -> list[str]:
        """All schema namespaces, capped at 100 per listing
        (RecordServiceMetadata.java:84). ``information_schema`` is
        engine-internal, never listed (:82,549-553)."""
        visible = [s for s in sorted(SCHEMAS) if s not in HIDDEN_SCHEMAS]
        return visible[:MAX_SCHEMAS_LISTED]

    def list_tables(self, schema: str | None = None) -> list[str]:
        """Tables of one schema, or of every visible schema when
        ``schema`` is None (the wildcard listing the reference caps at
        50, RecordServiceMetadata.java:85)."""
        if schema is not None:
            if schema in HIDDEN_SCHEMAS or schema not in SCHEMAS:
                return []
            return sorted(SCHEMAS[schema])[:MAX_TABLES_LISTED]
        names = [f"{s}.{t}" for s in self.list_schemas() for t in sorted(SCHEMAS[s])]
        return names[:MAX_TABLES_LISTED]

    def list_views(self) -> list[str]:
        return sorted(self._views)[:MAX_TABLES_LISTED]

    def resolve(self, name: str, allow_views: bool = True) -> tuple[str, str]:
        """Resolve a bare or ``schema.table`` name to (schema, table).
        Bare names search schemas in listing order — the reference
        resolves against the session schema then the catalog tree.

        ``allow_views=False`` restricts resolution to physical tables:
        callers that would otherwise hand a view name to a parquet-path
        API (table_stats) get a clean KeyError instead of a pyarrow
        FileNotFoundError on a nonexistent path."""
        if "." in name:
            schema, table = name.split(".", 1)
            if schema not in SCHEMAS or table not in SCHEMAS[schema]:
                raise KeyError(f"no such table: {name}")
            return schema, table
        # the USE-selected session schema wins for bare names (the
        # reference resolves against the session schema first)
        cur = getattr(self, "_current_schema", None)
        if cur and name in SCHEMAS.get(cur, ()):
            return cur, name
        for schema in sorted(SCHEMAS):
            if name in SCHEMAS[schema]:
                return schema, name
        if allow_views and name in self._views:
            return "default", name
        raise KeyError(f"no such table: {name}")

    def table_schema(self, name: str, user: str | None = None):
        """Visible schema after column authorization — unauthorized columns
        are absent, not errored (RecordServiceMetadata.java:804)."""
        return self.read(name, user=user).schema

    # ------------------------------------------------------------- policies
    def set_policy(self, user: str, table: str, policy: TablePolicy) -> None:
        self._policies.setdefault(user, {})[table] = policy
        self._policy_epoch += 1  # invalidate registered governed views
        self.uncache_table(table)  # a pinned pre-policy slice must not survive

    def _effective_user(self, user: str | None, on_behalf_of: str | None) -> str:
        """Resolve the governing identity through the delegation gate
        (RecordServiceUtil.java:494-503) — shared by read() and execute()."""
        user = user or self.props.user
        if on_behalf_of is not None:
            if not self.can_delegate(user, on_behalf_of):
                raise PermissionError(
                    f"{user!r} may not delegate as {on_behalf_of!r}")
            user = on_behalf_of
        return user

    # ----------------------------------------------------------- login/auth
    def login(self, user: str, secret: str) -> str:
        """Authenticate and adopt the principal as the session identity
        (C19 — the library counterpart of the reference's
        PasswordAuthenticator session establishment,
        password/OkeraAuthenticator.java:112-120). Requires an
        ``authenticator`` (sources/auth.py); raises AuthenticationError
        on denial, leaving the current identity untouched."""
        if self.authenticator is None:
            raise RuntimeError(
                "no authenticator configured — pass "
                "GovernedCatalog(authenticator=PasswordAuthenticator(...))")
        principal = self.authenticator.authenticate(user, secret)
        self.props.user = principal
        return principal

    # ----------------------------------------------------------- delegation
    def allow_delegation(self, delegate: str, target: str) -> None:
        """Grant ``delegate`` the right to run reads as ``target`` — the
        reference's canDelegate check on the connected system identity
        (RecordServiceUtil.java:494-503, OkeraAuthenticator delegation)."""
        self._delegations.setdefault(delegate, set()).add(target)

    def can_delegate(self, delegate: str, target: str) -> bool:
        return delegate == target or target in self._delegations.get(delegate, set())

    # ---------------------------------------------------------------- reads
    def read(self, name: str, user: str | None = None,
             on_behalf_of: str | None = None) -> DataFrame:
        """Governed scan: policy column-prune + row-filter + sampling + limit.

        ``name`` may be bare or ``schema.table`` qualified (multi-db tree,
        RecordServiceMetadata.java:166-189). ``on_behalf_of`` runs the read
        as another identity — allowed only through the delegation gate
        (RecordServiceUtil.java:494-503); the effective user's policies
        then apply.

        Order matters and is chosen so every stage stays pushdown-friendly:
        filter and select go first (Catalyst collapses them into the scan),
        sample next, limit last. All stages are lazy DataFrame transforms —
        nothing executes here.
        """
        user = self._effective_user(user, on_behalf_of)
        is_view = name in self._views
        if is_view:
            df = self.expand_view(name, user=user)
        else:
            _, name = self.resolve(name)
            df = load_table(self.spark, self.sf_dir, name)
        policy = self._policies.get(user, {}).get(name)
        if policy is not None:
            if policy.row_filter:
                df = df.filter(policy.row_filter)
            if policy.allowed_columns is not None:
                visible = [c for c in df.columns if c in set(policy.allowed_columns)]
                df = df.select(*visible)
            if policy.column_masks:
                df = df.select(*[
                    _masked(c, policy.column_masks[c]).alias(c)
                    if c in policy.column_masks else F.col(c)
                    for c in df.columns
                ])
        if not is_view:
            # Views skip the outer byte-cap: their BASE tables are read
            # through governed (and therefore sampled) temp views during
            # expansion — capping again here would double-sample.
            cap = self.props.sampling_bytes or self.sample_bytes
            if cap is not None:
                if self.sample_mode == "prefix":
                    df = df.limit(self._prefix_rows(name, cap))
                else:
                    frac = min(1.0, cap / max(
                        _uncompressed_bytes(self.sf_dir, name), 1))
                    df = df.sample(fraction=frac, seed=42)
        if self.props.limit is not None:
            df = df.limit(self.props.limit)
        return df

    def _prefix_rows(self, name: str, cap: int) -> int:
        """BYTE-EXACT sampled-scan cap: the deterministic row prefix whose
        decoded size fits ``cap`` uncompressed bytes — the reference's
        actual semantics (a sampled catalog scans up to
        sample_max_data_size bytes and stops,
        RecordServiceConfig.java:404-422), vs the ``fraction`` mode's
        Bernoulli approximation.

        Footer-only arithmetic: whole row groups that fit, plus a
        pro-rata slice of the first row group that doesn't (row groups
        store uncompressed byte size + row count — exact per-group, only
        the final partial group is interpolated). The resulting
        ``df.limit(n)`` is a pushed limit: Spark stops scanning once n
        rows are produced, so the cap governs bytes READ, not just bytes
        returned — the distributed equivalent of the reference's
        stop-at-N-bytes worker loop.
        """
        import pyarrow.parquet as pq
        meta = pq.read_metadata(table_path(self.sf_dir, name))
        rows, used = 0, 0
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            if used + rg.total_byte_size <= cap:
                rows += rg.num_rows
                used += rg.total_byte_size
            else:
                avg = max(rg.total_byte_size / max(rg.num_rows, 1), 1e-9)
                rows += int((cap - used) / avg)
                break
        return max(min(rows, meta.num_rows), 0)

    # ---------------------------------------------------------------- views
    def create_view(self, name: str, sql: str, replace: bool = False,
                    dialect: str = "spark") -> None:
        """Store SQL text; re-analyzed at read (external-view flavor,
        RecordServiceMetadata.java:288-349). The reference escapes the SQL
        for embedding in DDL (:304-311); storing text directly is the
        Spark-native equivalent — the session catalog re-analyzes on read.
        ``replace`` mirrors the drop-then-create path (:332-336).

        ``dialect="trino"`` stores Trino-dialect view text — the
        reference's actual view storage format (views are Trino SQL in
        its catalog, RecordServiceMetadata.java:392-444) — rewritten
        onto Spark SQL at every expansion, so a migrated view definition
        works verbatim."""
        if name in self._views and not replace:
            raise ValueError(f"view already exists: {name}")
        if dialect == "trino":
            from okera_trino_spark.functions.trino_sql import rewrite_trino_sql
            sql = rewrite_trino_sql(sql)
        elif dialect != "spark":
            raise ValueError(f"dialect must be spark|trino, got {dialect!r}")
        self._views[name] = sql

    def drop_view(self, name: str, if_exists: bool = True) -> None:
        if name not in self._views:
            if if_exists:
                return
            raise ValueError(f"no such view: {name}")
        del self._views[name]

    def _register_governed(self, user: str) -> None:
        """Register every table as a temp view of its GOVERNED DataFrame
        for ``user`` — the SQL path then sees exactly what the policy
        allows (column prune + row filter + sampling + limit), matching
        the reference's server-side enforcement on every read
        (RecordServiceMetadata.java:109-118 internal views, :804 column
        authz). Temp views are session-global state; each call stamps the
        current user's governance, mirroring one-query-one-identity.
        Re-registration is skipped only when THIS catalog's views for the
        same user are what the session currently holds — the stamp is
        session-global (_GOVERNED_STAMP), so another catalog instance (or
        a raw register_tables call) invalidates the skip and the next
        execute re-registers under the correct governance."""
        key = (self._serial, user, self._policy_epoch, _RAW_REGISTRATIONS)
        if _GOVERNED_STAMP.get(self.spark) == key:
            return
        for schema in SCHEMAS.values():
            for name in schema:
                self.read(name, user=user).createOrReplaceTempView(name)
        _GOVERNED_STAMP[self.spark] = key

    def expand_view(self, name: str, user: str | None = None) -> DataFrame:
        """Expand stored view SQL against the GOVERNED tables
        (read path: RecordServiceMetadata.java:392-444) — view expansion
        must not bypass the expanding user's policies. The session UDFs
        a Trino view's text calls are registered first: the session
        reading the view may not be the one that created it."""
        from okera_trino_spark.functions.trino_sql import ensure_dialect_udfs
        self._register_governed(user or self.props.user)
        text = self._views[name]
        ensure_dialect_udfs(self.spark, text)
        return self.spark.sql(text)

    #: SET SESSION name → SessionProperties field + value parser. The
    #: names are the reference's session properties
    #: (RecordServiceSessionProperties.java:26-59); "sampling_value" is
    #: the reference's own spelling for the byte cap.
    _SESSION_PROPS = {
        "limit": ("limit", int),
        "sampling_value": ("sampling_bytes", int),
        "sampling_bytes": ("sampling_bytes", int),
        "stats_mode": ("stats_mode", str),
    }
    _SET_SESSION_RE = re.compile(
        r"^\s*(SET|RESET)\s+SESSION\s+([\w.]+)(?:\s*=\s*(.+?))?\s*$",
        re.IGNORECASE | re.DOTALL)

    def _handle_set_session(self, sql: str) -> DataFrame | None:
        """Trino's SET SESSION / RESET SESSION statements mutate the
        catalog's SessionProperties (C21) instead of reaching the
        planner. Returns the confirmation DataFrame, or None when the
        statement is not a session-property one."""
        if re.fullmatch(r"\s*SHOW\s+SESSION\s*", sql, re.IGNORECASE):
            rows = [(n, str(getattr(self.props, f)))
                    for n, (f, _) in sorted(self._SESSION_PROPS.items())]
            return self.spark.createDataFrame(rows, "property string, value string")
        m = self._SET_SESSION_RE.match(sql)
        if not m:
            return None
        verb, name, raw = m.group(1).upper(), m.group(2).lower(), m.group(3)
        prop = self._SESSION_PROPS.get(name.rsplit(".", 1)[-1])
        if prop is None:
            raise ValueError(f"unknown session property: {name}")
        field, conv = prop
        if verb == "RESET":
            value = SessionProperties.__dataclass_fields__[field].default
        else:
            if raw is None:
                raise ValueError(f"SET SESSION {name} requires a value")
            raw = raw.strip()
            value = conv(raw[1:-1] if raw[:1] == "'" else raw)
        setattr(self.props, field, value)
        return self.spark.sql(
            "SELECT ? AS property, ? AS value", args=[name, str(value)])

    # ------------------------------------------------- metadata statements
    _SHOW_CATALOGS_RE = re.compile(
        r"^\s*SHOW\s+CATALOGS(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE)
    _SHOW_SCHEMAS_RE = re.compile(
        r"^\s*SHOW\s+SCHEMAS(?:\s+(?:FROM|IN)\s+[\w.`\"]+)?"
        r"(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE)
    _SHOW_TABLES_RE = re.compile(
        r"^\s*SHOW\s+TABLES(?:\s+(?:FROM|IN)\s+([\w`\"]+))?"
        r"(?:\s+LIKE\s+'([^']*)')?\s*$", re.IGNORECASE)
    _DESCRIBE_RE = re.compile(
        r"^\s*(?:DESCRIBE|DESC|SHOW\s+COLUMNS\s+(?:FROM|IN))\s+"
        r"([\w.`\"]+)\s*$", re.IGNORECASE)

    @staticmethod
    def _like(pattern: str | None, names: list[str]) -> list[str]:
        """SQL LIKE filtering for listing statements (%/_ wildcards,
        case-insensitive — Trino's SHOW ... LIKE semantics)."""
        if pattern is None:
            return names
        rx = re.compile(
            "^" + re.escape(pattern).replace("%", ".*").replace("_", ".")
            + "$", re.IGNORECASE)
        return [n for n in names if rx.match(n)]

    _PREPARE_RE = re.compile(
        r"^\s*PREPARE\s+(\w+)\s+FROM\s+(.+)$", re.IGNORECASE | re.DOTALL)
    _EXECUTE_RE = re.compile(
        r"^\s*EXECUTE\s+(\w+)(?:\s+USING\s+(.+))?\s*$",
        re.IGNORECASE | re.DOTALL)
    _DEALLOCATE_RE = re.compile(
        r"^\s*DEALLOCATE\s+PREPARE\s+(\w+)\s*$", re.IGNORECASE)

    def _handle_prepared(self, sql: str, user: str,
                         dialect: str) -> DataFrame | None:
        """Trino's client prepared-statement trio: ``PREPARE q FROM
        <stmt>`` stores the text (per-catalog session state, like the
        reference's Trino session), ``EXECUTE q [USING v, ...]`` runs it
        with the values bound to its ``?`` markers through Spark's
        parameterized sql (values never enter the SQL text — no escaping
        surface), ``DEALLOCATE PREPARE q`` drops it. USING values are
        literals: numbers, strings ('' escapes), booleans, NULL."""
        m = self._PREPARE_RE.match(sql)
        if m:
            body = m.group(2).strip()
            if re.match(r"(PREPARE|EXECUTE|DEALLOCATE)\b", body,
                        re.IGNORECASE):
                # Trino rejects nested prepared statements too; without
                # this, PREPARE q FROM EXECUTE q would recurse forever.
                raise ValueError(
                    "PREPARE body cannot be another prepared-statement "
                    "command")
            self._prepared[m.group(1).lower()] = body
            return self.spark.sql("SELECT ? AS prepared", args=[m.group(1)])
        m = self._DEALLOCATE_RE.match(sql)
        if m:
            if self._prepared.pop(m.group(1).lower(), None) is None:
                raise KeyError(f"no such prepared statement: {m.group(1)}")
            return self.spark.sql("SELECT ? AS deallocated", args=[m.group(1)])
        m = re.match(r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+(\w+)\s*$",
                     sql, re.IGNORECASE)
        if m:
            text = self._prepared.get(m.group(2).lower())
            if text is None:
                raise KeyError(f"no such prepared statement: {m.group(2)}")
            # Count markers OUTSIDE string literals/comments (r7): a
            # '?' inside a quoted literal is data, not a parameter —
            # counting it inflated positions and bound spurious NULLs
            # in the OUTPUT planning call.
            from okera_trino_spark.functions.trino_sql import _mask

            n_params = _mask(text)[0].count("?")
            if m.group(1).upper() == "INPUT":
                # Trino reports each ? marker's position; parameter
                # types are unknown until EXECUTE binds values (Trino
                # itself shows "unknown" for untyped markers).
                return self.spark.createDataFrame(
                    [(i, "unknown") for i in range(n_params)],
                    "position int, type string")
            # OUTPUT: the planned schema WITHOUT executing — plan with
            # NULL bound to every marker (lazy; no action runs). Types
            # render as the Trino engine would show them to the client
            # (late r8 — the same C11 rendering information_schema
            # uses), not as Spark simpleStrings.
            from okera_trino_spark.sources.types import spark_type_to_trino

            out = self.execute(text, user=user, dialect=dialect,
                               params=[None] * n_params
                               if n_params else None)
            rows = [(f.name, spark_type_to_trino(f.dataType))
                    for f in out.schema.fields]
            return self.spark.createDataFrame(
                rows, "column_name string, type string")
        m = self._EXECUTE_RE.match(sql)
        if m:
            if m.group(1).upper() == "IMMEDIATE":
                return None  # Spark's own EXECUTE IMMEDIATE statement
            text = self._prepared.get(m.group(1).lower())
            if text is None:
                raise KeyError(f"no such prepared statement: {m.group(1)}")
            params = (self._parse_literals(m.group(2))
                      if m.group(2) is not None else None)
            return self.execute(text, user=user, dialect=dialect,
                                params=params)
        return None

    @staticmethod
    def _parse_literals(text: str) -> list:
        """Parse a USING value list: numeric / 'string' ('' escape) /
        TRUE / FALSE / NULL literals, comma-separated."""
        out = []
        pat = re.compile(
            r"\s*(?:'((?:[^']|'')*)'|([+-]?\d+\.\d+)|([+-]?\d+)"
            r"|(TRUE|FALSE|NULL))\s*(?:,|$)", re.IGNORECASE)
        pos = 0
        while pos < len(text):
            m = pat.match(text, pos)
            if not m or m.end() == pos:
                raise ValueError(f"unparsable USING value at: {text[pos:]!r}")
            if m.group(1) is not None:
                out.append(m.group(1).replace("''", "'"))
            elif m.group(2) is not None:
                out.append(float(m.group(2)))
            elif m.group(3) is not None:
                out.append(int(m.group(3)))
            else:
                kw = m.group(4).upper()
                out.append(None if kw == "NULL" else kw == "TRUE")
            pos = m.end()
        return out

    def _handle_metadata(self, sql: str, user: str) -> DataFrame | None:
        """The catalog-discovery trio every Trino client sends first —
        SHOW SCHEMAS / SHOW TABLES [FROM db] [LIKE 'p'] / DESCRIBE tbl
        (reference RecordServiceMetadata.java:166-282) — answered from
        the GOVERNED registry instead of the raw Spark session catalog:
        listings apply the reference's 100/50 caps and hide
        ``information_schema`` (RecordServiceMetadata.java:84-85,82),
        and DESCRIBE shows the CALLER's visible schema — columns their
        policy hides are absent, not errored
        (RecordServiceMetadata.java:804). Output shapes match Spark's
        own statements (``namespace`` / ``namespace, tableName`` /
        ``col_name, data_type, comment``) so existing clients parse them
        unchanged. Returns None when ``sql`` is not a metadata
        statement."""
        m = self._SHOW_CATALOGS_RE.match(sql)
        if m:
            # The three connector flavors the reference plugin registers
            # (RecordServicePlugin.java:61-67): this instance's name plus
            # the byte-capped sampled variants.
            cats = sorted({self.catalog_name, "okera",
                           "okera_sampled_10mb", "okera_sampled_100mb"})
            rows = [(c,) for c in self._like(m.group(1), cats)]
            return self.spark.createDataFrame(rows, "catalog string")
        m = self._SHOW_SCHEMAS_RE.match(sql)
        if m:
            rows = [(s,) for s in self._like(m.group(1), self.list_schemas())]
            return self.spark.createDataFrame(rows, "namespace string")
        m = self._SHOW_TABLES_RE.match(sql)
        if m:
            schema = m.group(1).strip('`"').lower() if m.group(1) else None
            if schema is not None:
                names = [(schema, t) for t in self.list_tables(schema)]
            else:
                names = [tuple(q.split(".", 1)) for q in self.list_tables()]
            keep = set(self._like(m.group(2), [t for _, t in names]))
            rows = [(s, t) for s, t in names if t in keep]
            return self.spark.createDataFrame(
                rows, "namespace string, tableName string")
        m = re.match(r"^\s*USE\s+([\w`\"]+)\s*$", sql, re.IGNORECASE)
        if m:
            schema = m.group(1).strip('`"').lower()
            if schema in HIDDEN_SCHEMAS or schema not in SCHEMAS:
                raise KeyError(f"no such schema: {schema}")
            self._current_schema = schema
            return self.spark.sql("SELECT ? AS current_schema", args=[schema])
        m = re.match(r"^\s*SHOW\s+FUNCTIONS(?:\s+LIKE\s+'([^']*)')?\s*$",
                     sql, re.IGNORECASE)
        if m:
            # Trino clients enumerate functions for autocomplete. The
            # answer is the engine surface a query can actually call:
            # Spark's builtin registry (everything the dialect passes
            # through or lowers onto) plus the session-registered
            # dialect UDFs. One name per row, sorted — the subset of
            # Trino's six-column shape every client actually reads.
            names = sorted({f.name for f in
                            self.spark.catalog.listFunctions()}
                           | {"trino_normalize"})
            rows = [(n,) for n in self._like(m.group(1), names)]
            return self.spark.createDataFrame(rows, "function string")
        m = re.match(r"^\s*SHOW\s+CREATE\s+VIEW\s+([\w.`\"]+)\s*$",
                     sql, re.IGNORECASE)
        if m:
            name = m.group(1).strip('`"').split(".")[-1]
            text = self._views.get(name)
            if text is None:
                raise KeyError(f"no such view: {name}")
            return self.spark.sql(
                "SELECT ? AS view, ? AS create_sql",
                args=[name, f"CREATE VIEW {name} AS {text}"])
        m = self._DESCRIBE_RE.match(sql)
        if m:
            name = m.group(1).strip('`"')
            self.resolve(name)  # KeyError on unknown tables, like read()
            rows = [(f.name, f.dataType.simpleString(), None)
                    for f in self.table_schema(name, user=user).fields]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, comment string")
        m = re.match(r"^\s*SHOW\s+STATS\s+FOR\s+([\w.`\"]+)\s*$",
                     sql, re.IGNORECASE)
        if m:
            # Trino's SHOW STATS shape (the C13 statistics surface the
            # connector feeds the engine, RecordServiceMetadata.java:
            # 504-537): one row per visible column + a summary row with
            # the row count. Footer-only — no scan — and policy-scoped
            # like table_stats itself (hidden columns absent, row-
            # filtered users get NULL counts).
            st = self.table_stats(m.group(1).strip('`"'), user=user)
            rc = st["row_count"]
            rows = []
            for col, c in sorted(st["columns"].items()):
                nf = (None if rc in (None, 0) or c["null_count"] is None
                      else round(c["null_count"] / rc, 6))
                ds = (None if c["uncompressed_bytes"] is None
                      else float(c["uncompressed_bytes"]))
                rows.append((col, ds, nf, None))
            rows.append((None, None, None,
                         None if rc is None else float(rc)))
            return self.spark.createDataFrame(
                rows, "column_name string, data_size double, "
                      "nulls_fraction double, row_count double")
        return None

    # ------------------------------------------- information_schema
    #: Trino serves information_schema for every catalog by driving
    #: the connector's metadata SPI (the same listSchemaNames /
    #: listTables / getTableMetadata calls behind SHOW —
    #: RecordServiceMetadata.java:166-282); the schema is hidden from
    #: LISTINGS (:82) but its views are queryable. BI tools introspect
    #: through it, so the governed SQL path answers SELECTs over
    #: schemata/tables/columns/views from the registry.
    _INFO_SCHEMA_RE = re.compile(
        r"\binformation_schema\s*\.\s*(schemata|tables|columns|views)\b",
        re.IGNORECASE)

    def _rewrite_information_schema(self, sql: str,
                                    user: str) -> str | None:
        """When ``sql`` references information_schema views, register
        policy-scoped temp views backing them and return the statement
        with the references renamed onto those views (projection,
        filtering, joins then plan as normal Spark SQL). Returns None
        when the statement doesn't touch information_schema.

        Column listings go through :meth:`table_schema` with the
        calling user, so policy-hidden columns are ABSENT exactly as in
        DESCRIBE (RecordServiceMetadata.java:804); types render as the
        Trino engine would show them (sources/types.py
        spark_type_to_trino)."""
        # Rewrite only OUTSIDE single-quoted literals — a string value
        # that happens to contain "information_schema.tables" must
        # survive byte-for-byte (split keeps literals at odd indices;
        # '' quote escapes stay inside one span).
        spans = re.split(r"('(?:[^']|'')*')", sql)
        wanted = {m.group(1).lower()
                  for i, p in enumerate(spans) if i % 2 == 0
                  for m in self._INFO_SCHEMA_RE.finditer(p)}
        if not wanted:
            return None
        from okera_trino_spark.sources.types import spark_type_to_trino
        cat = self.catalog_name
        if "schemata" in wanted:
            rows = [(cat, s) for s in self.list_schemas()]
            self.spark.createDataFrame(
                rows, "catalog_name string, schema_name string"
            ).createOrReplaceTempView("_info_schema_schemata")
        if "tables" in wanted:
            rows = [(cat, s, t, "BASE TABLE")
                    for s in self.list_schemas()
                    for t in self.list_tables(s)]
            rows += [(cat, "default", v, "VIEW")
                     for v in self.list_views()]
            self.spark.createDataFrame(
                rows, "table_catalog string, table_schema string, "
                      "table_name string, table_type string"
            ).createOrReplaceTempView("_info_schema_tables")
        if "columns" in wanted:
            rows = []
            for s in self.list_schemas():
                for t in self.list_tables(s):
                    fields = self.table_schema(t, user=user).fields
                    rows += [(cat, s, t, f.name, i + 1, None,
                              "YES" if f.nullable else "NO",
                              spark_type_to_trino(f.dataType))
                             for i, f in enumerate(fields)]
            self.spark.createDataFrame(
                rows, "table_catalog string, table_schema string, "
                      "table_name string, column_name string, "
                      "ordinal_position int, column_default string, "
                      "is_nullable string, data_type string"
            ).createOrReplaceTempView("_info_schema_columns")
        if "views" in wanted:
            rows = [(cat, "default", v, self._views[v])
                    for v in self.list_views()]
            self.spark.createDataFrame(
                rows, "table_catalog string, table_schema string, "
                      "table_name string, view_definition string"
            ).createOrReplaceTempView("_info_schema_views")
        return "".join(
            p if i % 2 else self._INFO_SCHEMA_RE.sub(
                lambda m: "_info_schema_" + m.group(1).lower(), p)
            for i, p in enumerate(spans))

    # ---------------------------------------------------------------- audit
    def execute(self, sql: str, user: str | None = None,
                on_behalf_of: str | None = None,
                dialect: str = "spark",
                params: list | None = None) -> DataFrame:
        """Run SQL as ``user`` with audit logging. The tables visible to
        the query are the user's GOVERNED reads — column authorization
        and row filters apply on this path exactly as on ``read()``
        (previously the SQL path saw raw temp views and silently
        bypassed policy). ``on_behalf_of`` goes through the same
        delegation gate as ``read()`` — the effective user's policies
        govern AND are the audited identity. A DENIED delegation is
        itself audited (success=False) before it raises — failed access
        attempts must not be invisible.

        ``dialect="trino"`` accepts Trino-dialect SQL text — the form
        the reference's users actually submit (README.md:74-90) —
        rewritten onto Spark SQL by functions/trino_sql.py BEFORE
        planning, so governance applies identically on both dialects.
        ``params`` binds positional ``?`` markers via Spark's
        parameterized sql on either dialect — values never enter the
        audited SQL text. The audit log records the ORIGINAL text the
        user submitted.

        Catalog-discovery statements (SHOW SCHEMAS / SHOW TABLES /
        DESCRIBE — see :meth:`_handle_metadata`) and session-property
        statements (SET/RESET/SHOW SESSION) are answered from the
        governed registry on BOTH dialects, before any planner text
        reaches Spark."""
        qid = self._next_query_id
        self._next_query_id += 1
        start = time.time()
        error = None
        try:
            user = self._effective_user(user, on_behalf_of)
            try:
                df = self._handle_set_session(sql)
            except ValueError:
                error = "invalid session property"
                raise
            if df is None:
                df = self._run_governed_sql(sql, user, dialect, params)
        except Exception as exc:  # noqa: BLE001 — audit then re-raise
            self._audit.append(AuditRecord(
                query_id=qid, user=user or self.props.user, sql=sql,
                start_time=start, elapsed_ms=(time.time() - start) * 1000.0,
                success=False, error=error or str(exc)))
            raise
        self._audit.append(AuditRecord(
            query_id=qid, user=user, sql=sql, start_time=start,
            elapsed_ms=(time.time() - start) * 1000.0, success=True))
        return df

    def _run_governed_sql(self, sql: str, user: str, dialect: str,
                          params: list | None) -> DataFrame:
        """The non-session-property part of :meth:`execute`: metadata
        and prepared statements from the registry, everything else
        planned over ``user``'s governed views."""
        handled = self._handle_prepared(sql, user, dialect)
        if handled is None:
            handled = self._handle_metadata(sql, user)
        if handled is not None:
            return handled
        self._register_governed(user)
        # information_schema SELECTs (both dialects): swap the
        # references onto policy-scoped registry views; the audit
        # records the ORIGINAL text.
        info = self._rewrite_information_schema(sql, user)
        plan_sql = info if info is not None else sql
        if dialect == "trino":
            from okera_trino_spark.functions.trino_sql import execute_trino
            # Planned over the GOVERNED views registered above, so
            # EXPLAIN output and MATCH_RECOGNIZE scans are policy-scoped
            # like any read. No sf_dir: it would re-register the raw
            # tables over the governed views.
            return execute_trino(self.spark, plan_sql, None, params)
        if dialect != "spark":
            raise ValueError(f"dialect must be spark|trino, got {dialect!r}")
        return (self.spark.sql(plan_sql, args=params) if params is not None
                else self.spark.sql(plan_sql))

    @property
    def audit_log(self) -> list[AuditRecord]:
        """SQL-path submission records (query text + user). Engine-level
        per-execution records — every DataFrame action on the session,
        captured by the QueryExecutionListener in sources/audit.py — are
        exposed via :meth:`execution_log`."""
        return list(self._audit)

    def execution_log(self):
        """Engine-level audit: every execution on this session (DataFrame
        API included), from the registered QueryExecutionListener —
        OkeraEventListener.java:26-67 parity."""
        from okera_trino_spark.sources.audit import execution_log
        return execution_log(self.spark)

    # ----------------------------------------------------------------- cache
    def cache_table(self, name: str, user: str | None = None) -> DataFrame:
        """Pin a governed table in the executor columnar cache
        (InMemoryRelation): repeated scans of a hot dim skip the storage
        round trip entirely — the data-side analogue of the reference's
        metadata BoundedCache (RecordServiceMetadata.java:97-107). The
        cached plan is the GOVERNED read, so the cache can never leak
        rows/columns the caller's policy hides. Lazy: materialized by the
        first action, evicted LRU under memory pressure (MEMORY_AND_DISK),
        dropped by uncache_table (and by set_policy — a pinned
        pre-policy slice must not outlive its policy). Pins are keyed by
        (user, table): two users caching the same table hold independent
        governed slices and never evict each other."""
        user = user or self.props.user
        self.uncache_table(name, user=user)  # don't orphan a previously pinned plan
        df = self.read(name, user=user)
        df.cache()
        self._cached[(user, name)] = df
        return df

    def uncache_table(self, name: str, user: str | None = None) -> None:
        """Drop pinned slices of ``name``: one user's when ``user`` is
        given, every user's otherwise (the set_policy invalidation path —
        a policy change must evict ALL stale slices of the table)."""
        keys = [(user, name)] if user is not None else [
            k for k in self._cached if k[1] == name]
        for k in keys:
            df = self._cached.pop(k, None)
            if df is not None:
                df.unpersist(blocking=True)  # deterministic: next plan rescans

    # ----------------------------------------------------------------- stats
    def table_stats(self, name: str, user: str | None = None) -> dict:
        """Table statistics for cost-based planning — the connector's
        TableStatistics surface: row count, total data size, AND
        per-column data sizes + null counts (the reference populates
        ColumnStatistics.dataSize per column for the CBO,
        RecordServiceMetadata.java:504-537; modes HMS/Okera collapse to
        one here since parquet footers are the single source).

        METADATA-ONLY: everything comes from the parquet footer via
        pyarrow — no Spark job, no scan (a stats call must never cost a
        full pass over 100 TB). Results go through a per-user TTL cache
        (``stats_ttl_seconds``; 0 = disabled, the reference's default —
        RecordServiceMetadata.java:97-107).

        POLICY-SCOPED: stats answer for what the caller may see. Columns
        hidden by a column-authz policy are absent from ``columns`` and
        ``n_columns``; a user whose policy row-filters the table gets
        ``row_count``/``size_bytes``/per-column sizes of None (exact
        full-table cardinality would disclose how many rows the filter
        hides) with ``policy_filtered: True`` so planners degrade to
        unknown-stats behavior. Views are rejected with KeyError (stats
        are a physical-table surface).
        """
        user = user or self.props.user
        _, name = self.resolve(name, allow_views=False)
        if self.stats_ttl_seconds > 0:
            hit = self._stats_cache.get((user, name))
            if hit is not None and time.time() - hit[0] < self.stats_ttl_seconds:
                return dict(hit[1])
        import pyarrow.parquet as pq
        meta = pq.read_metadata(table_path(self.sf_dir, name))
        policy = self._policies.get(user, {}).get(name)
        allowed = None if policy is None else policy.allowed_columns
        filtered = bool(policy is not None and policy.row_filter)
        columns: dict[str, dict] = {}
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            for j in range(rg.num_columns):
                chunk = rg.column(j)
                col = chunk.path_in_schema.split(".", 1)[0]
                if allowed is not None and col not in allowed:
                    continue
                entry = columns.setdefault(col, {
                    "compressed_bytes": 0, "uncompressed_bytes": 0,
                    "null_count": 0})
                entry["compressed_bytes"] += chunk.total_compressed_size
                entry["uncompressed_bytes"] += chunk.total_uncompressed_size
                st = chunk.statistics
                if entry["null_count"] is not None and st is not None \
                        and st.has_null_count:
                    entry["null_count"] += st.null_count
                else:  # any chunk without stats → null count unknown
                    entry["null_count"] = None
        if filtered:  # degrade: sizes/counts would leak hidden rows
            for entry in columns.values():
                entry.update({"compressed_bytes": None,
                              "uncompressed_bytes": None, "null_count": None})
        stats = {
            "table": name,
            "row_count": None if filtered else meta.num_rows,
            "size_bytes": None if filtered
            else os.path.getsize(table_path(self.sf_dir, name)),
            "n_columns": len(columns),
            "columns": columns,
            "policy_filtered": filtered,
            "stats_mode": self.props.stats_mode,
        }
        if self.stats_ttl_seconds > 0:
            self._stats_cache[(user, name)] = (time.time(), stats)
        return dict(stats)
