"""Scalar pipeline functions (SURVEY.md §2.2 P1-P11, §2.3 F1-F3).

Every function here is a *Column expression builder*: pure Catalyst
expressions that stay inside whole-stage codegen. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P10 — row-key salting.
# Reference spec: salt = first 4 BYTES of md5(pk) — 8 hex chars — joined
# with ';' (/root/reference/CHANGES.txt:102-104). We reproduce the
# byte-exact salted key for fidelity, but use it as a *shuffle/bucket* key,
# never a stored key: in Spark, salting is physical (partitioning), not
# logical.
# ---------------------------------------------------------------------------


def pk_concat(repo: Column | str = "repo", path: Column | str = "path") -> Column:
    repo = F.col(repo) if isinstance(repo, str) else repo
    path = F.col(path) if isinstance(path, str) else path
    return F.concat_ws(";", repo, path)


def salt_key(repo: Column | str = "repo", path: Column | str = "path") -> Column:
    """``first-4-BYTES(md5(pk)) ; pk`` (8 hex chars) — byte-identical to
    CHANGES.txt:102-104 ("first four bytes of row key MD5 hash")."""
    pk = pk_concat(repo, path)
    return F.concat(F.substring(F.md5(pk), 1, 8), F.lit(";"), pk)


def salted_shuffle_key(n_buckets: int, repo: Column | str = "repo", path: Column | str = "path") -> Column:
    """Bucket id in [0, n_buckets) derived from the md5 salt prefix.

    Deterministic function of the key only — the same key always lands in the
    same bucket, which is what lets the sink rewrite only touched buckets.
    """
    return F.pmod(F.conv(F.substring(F.md5(pk_concat(repo, path)), 1, 4), 16, 10).cast("long"), F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# P1 — event-type dispatch. The reference classifies QUERY events into
# BEGIN/COMMIT/DDL by string inspection and had a bug where DDL statements
# were misread as commit/begin (CHANGES.txt:117). We classify with anchored,
# word-bounded regexes so 'CREATE TABLE begin_balances' stays DDL.
# ---------------------------------------------------------------------------

_DDL_RE = r"(?i)^\s*(ALTER|CREATE|DROP|RENAME|TRUNCATE)\b"
_BEGIN_RE = r"(?i)^\s*BEGIN\s*$"
_COMMIT_RE = r"(?i)^\s*COMMIT\s*$"


def classify_event(op: Column | str = "op", ddl: Column | str = "ddl") -> Column:
    """Normalized event class: ROW / BEGIN / COMMIT / DDL / ROTATE / OTHER."""
    op = F.col(op) if isinstance(op, str) else op
    ddl = F.col(ddl) if isinstance(ddl, str) else ddl
    return (
        F.when(op.isin("I", "U", "D"), F.lit("ROW"))
        .when(op == "ROTATE", F.lit("ROTATE"))
        # a QUERY-ish event: classify the statement text (the :117 trap —
        # DDL first, and BEGIN/COMMIT must match the *whole* statement)
        .when(ddl.isNotNull() & F.regexp_like(ddl, F.lit(_DDL_RE)), F.lit("DDL"))
        .when(ddl.isNotNull() & F.regexp_like(ddl, F.lit(_BEGIN_RE)), F.lit("BEGIN"))
        .when(ddl.isNotNull() & F.regexp_like(ddl, F.lit(_COMMIT_RE)), F.lit("COMMIT"))
        .when(op.isin("BEGIN", "COMMIT", "DDL"), op)
        .otherwise(F.lit("OTHER"))
    )


# ---------------------------------------------------------------------------
# P7 — changed-cells projection: for UPDATE events store only cells where
# before != after (CHANGES.txt:173). Pure map_filter, no Python.
# ---------------------------------------------------------------------------


def changed_cells(before: Column | str = "before", after: Column | str = "after") -> Column:
    before = F.col(before) if isinstance(before, str) else before
    after = F.col(after) if isinstance(after, str) else after
    return F.map_filter(after, lambda k, v: ~v.eqNullSafe(F.element_at(before, k)))


# ---------------------------------------------------------------------------
# P8 — delete projection: deletes are key-only; all columns ignored
# (CHANGES.txt:184).
# ---------------------------------------------------------------------------


def delete_projection(op: Column | str = "op", after: Column | str = "after") -> Column:
    op = F.col(op) if isinstance(op, str) else op
    after = F.col(after) if isinstance(after, str) else after
    empty = F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    return F.when(op == "D", empty).otherwise(after)


# ---------------------------------------------------------------------------
# P2-P6, P11 — type canonicalization & hashing
# ---------------------------------------------------------------------------


def blob_hex(col: Column | str) -> Column:
    """P3: BLOB -> hex string (CHANGES.txt:161). Spark's built-in, uppercase."""
    col = F.col(col) if isinstance(col, str) else col
    return F.hex(col)


def ts_to_epoch(col: Column | str) -> Column:
    """P4: TIMESTAMP -> epoch long, timezone-independent (CHANGES.txt:162-163).

    Session timezone must be pinned UTC (engine session does this).
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(col)


def enum_decode(idx: Column | str, labels: Column) -> Column:
    """P5: ENUM index -> label via the registry's parsed label array
    (CHANGES.txt:182). 1-based, as in MySQL ENUM.

    The isNotNull guard is load-bearing: Spark 4.1's runtime ElementAt
    treats a NULL *non-literal* ordinal as -1 (last element) instead of
    propagating NULL — only the constant-folded literal-NULL case returns
    NULL. A missing ENUM cell (e.g. a partial update after a delete) must
    decode to NULL, not to the last label."""
    idx = F.col(idx) if isinstance(idx, str) else idx
    i = idx.cast("int")
    return F.when(i.isNotNull(), F.element_at(labels, i))


def time2_canonical(col: Column | str) -> Column:
    """P6: MySQL TIME2 — a signed fractional-second duration carried as
    microseconds — canonicalized to MySQL's text form '-HH:MM:SS.ffffff'
    (CHANGES.txt:183 "Conversion of TIME2 values"). Pure Catalyst; NULL in,
    NULL out."""
    col = (F.col(col) if isinstance(col, str) else col).cast("long")
    sign = F.when(col < 0, F.lit("-")).otherwise(F.lit(""))
    a = F.abs(col)
    return F.when(
        col.isNotNull(),
        F.format_string(
            "%s%02d:%02d:%02d.%06d",
            sign,
            F.floor(a / 3_600_000_000).cast("long"),
            (F.floor(a / 60_000_000) % 60).cast("long"),
            (F.floor(a / 1_000_000) % 60).cast("long"),
            (a % 1_000_000).cast("long"),
        ),
    )


def latin1_decode(col: Column | str) -> Column:
    """P2: latin1-sourced bytes (hex-encoded in the KV cell, as the binlog
    carries raw column bytes) -> UTF-8 string (CHANGES.txt:160 "utf8 and
    latin1 charsets"). latin1 maps 1:1 onto U+0000..U+00FF."""
    col = F.col(col) if isinstance(col, str) else col
    return F.decode(F.unhex(col), "ISO-8859-1")


#: plain SQL-castable engine types (richer types handled by materialize_cell)
CAST_MAP = {"string": "string", "long": "long", "int": "int", "timestamp": "timestamp", "double": "double"}


def materialize_cell(image: Column | str, name: str, typ: str) -> Column:
    """Project + decode ONE business cell from the string-image map onto
    its engine type — the single place the per-type canonicalizers (P2-P6)
    plug into materialization, shared by batch replay and both sinks."""
    image = F.col(image) if isinstance(image, str) else image
    raw = F.element_at(image, name)
    if typ == "time2":
        return time2_canonical(raw).alias(name)
    if typ == "latin1":
        return latin1_decode(raw).alias(name)
    if typ.startswith("enum("):
        labels = typ[len("enum("):-1].split("|")
        return enum_decode(raw, F.array(*[F.lit(lb) for lb in labels])).alias(name)
    return raw.cast(CAST_MAP[typ]).alias(name)


def content_sha256(col: Column | str = "content") -> Column:
    """P11: per-row content hash — the correctness invariant of the build
    (BASELINE.json input_hint: content sha256 equality)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sha2(col, 256)


def namespace_route(
    repo: Column | str,
    rules: list[tuple[str, str]],
    default: str = "default",
) -> Column:
    """F3: namespace routing — map a table/repo name to its target
    namespace by the FIRST matching (regex, namespace) rule, else
    ``default``. The reference routes replicated tables into HBase
    namespaces; in the lake the namespace becomes the sink-root prefix
    (``<base>/<namespace>/<table>``), see sinks/base.route_sink_root."""
    repo = F.col(repo) if isinstance(repo, str) else repo
    expr: Column = F.lit(default)
    for pattern, ns in reversed(rules):
        expr = F.when(repo.rlike(pattern), F.lit(ns)).otherwise(expr)
    return expr


def daily_bucket_utc(ts: Column | str = "ts") -> Column:
    """A6: UTC day bucket for the changelog (daily-changes tables were
    computed in UTC after the :55 bugfix — CHANGES.txt:55,111,123)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(ts, "yyyyMMdd")
