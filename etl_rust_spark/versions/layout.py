"""Column mapping, hidden partition transforms, hive path escaping and
parquet/Spark type canon — the pure layout/schema helpers of the
versioned-table format.

Mechanical split of the former single-module versions.py (r11); see the package __init__ for the public surface."""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _column_map(m: dict) -> dict[str, str]:
    """The manifest's ``column_map`` — {logical: physical}, identity
    entries omitted (r10 s2, metadata-only renames / Delta
    column-mapping 'name' mode).  THE INVARIANT: everything under
    ``data/`` is PHYSICAL — file column names, stats/bloom keys,
    partition directory names, MoR sidecar fingerprints (whose column
    ORDER sorts by name, so they must never see a rename) — and the
    map applies only at the API boundary: read results surface logical
    names, user predicates/expressions arrive in logical names and are
    evaluated over an aliased projection (filter pushdown survives an
    alias, so file skipping is unaffected)."""
    return dict(m.get("column_map") or {})


def _phys_col(m: dict, name: str) -> str:
    return _column_map(m).get(name, name)


def _logical_pb(m: dict) -> str | None:
    """The partition column's LOGICAL name (manifests store the
    physical one — it names real directories)."""
    pb = m.get("partition_by") or None
    if pb is None:
        return None
    inv = {p: l for l, p in _column_map(m).items()}
    return inv.get(pb, pb)


# --------------------------------------------- hidden partition transforms
# (Iceberg partition-transform shaped, r10 s3): the table partitions on a
# DERIVED value — days(ts), bucket(n, k), truncate(w, s) — materialized
# as a synthetic STRING column that exists ONLY in directory names, never
# in the user schema or the payload parquet.  The invariant mirrors
# column mapping: everything under data/ is physical (directories carry
# the synth value; payload files never do — partitionBy excludes it),
# and the API boundary converts — _to_logical DROPS the synth column,
# _to_physical RE-DERIVES it from the source column (the transform is a
# pure expression, so recomputation is exact and survives UPDATEs to the
# source value: the row simply moves to its new directory).  Synth
# values are strings by construction so directory round-trips are
# engine-stable; physical reads cast the inferred directory column back
# to string (Spark's partition inference would type '2026-01-01' as
# DATE, which would desynchronize MoR fingerprints).


def _transform_of(m: dict) -> dict | None:
    return m.get("partition_transform") or None


def _synth_of(m: dict) -> str | None:
    """The synthetic partition column's name, or None for identity
    partitioning."""
    return m.get("partition_by") if _transform_of(m) else None


def _transform_expr(t: dict, source: str | None = None):
    """The transform as a Column over ``source`` (default: the recorded
    physical source column).  All transforms yield STRINGS.

    days/hours of a TIMESTAMP (instant) source are UTC days — pure
    epoch arithmetic, independent of ``spark.sql.session.timeZone``
    (Iceberg pins UTC for the same reason: a session-tz-dependent
    day boundary splits one table's layout across differently-
    configured writers).  DATE and TIMESTAMP_NTZ sources are wall
    values with no timezone at all, so their calendar rendering is
    already deterministic."""
    src = F.col(source or t["source"])
    kind = t["kind"]
    if kind in ("days", "hours"):
        st = t.get("src_type", "")
        if st.startswith("timestamp") and st != "timestamp_ntz":
            e = src.cast("bigint")  # epoch seconds — tz-free instant
            day = ((e - F.pmod(e, F.lit(86400))) / 86400).cast("int")
            d = F.date_from_unix_date(day).cast("string")
            if kind == "days":
                return d
            hr = F.pmod(
                ((e - F.pmod(e, F.lit(3600))) / 3600).cast("bigint"),
                F.lit(24),
            ).cast("int")
            return F.concat(
                d, F.lit("-"), F.lpad(hr.cast("string"), 2, "0")
            )
        return F.date_format(
            src, "yyyy-MM-dd" if kind == "days" else "yyyy-MM-dd-HH"
        )
    if kind == "bucket":
        # engine-native wide hash mod n — deterministic across sessions
        return F.pmod(F.xxhash64(src), F.lit(int(t["n"]))).cast("string")
    if kind == "truncate":
        return F.substring(src, 1, int(t["n"]))
    raise ValueError(f"unknown partition transform kind {kind!r}")


def _same_transform(a: dict | None, b: dict | None) -> bool:
    """Layout identity ignores the recorded src_type (an implementation
    detail of probe pruning, not of the partitioning)."""
    strip = lambda d: (
        {k: v for k, v in d.items() if k != "src_type"} if d else None
    )
    return strip(a) == strip(b)


def _parse_partition_spec(partition_by, df: DataFrame | None):
    """A user partition spec → (directory column name, transform dict).
    A plain string is identity partitioning (transform None); a tuple is
    ``("days"|"hours", source)`` or ``("bucket"|"truncate", source, n)``."""
    if partition_by is None or isinstance(partition_by, str):
        return partition_by, None
    spec = list(partition_by)
    kind = spec[0]
    if kind in ("days", "hours"):
        if len(spec) != 2:
            raise ValueError(f"partition_by=({kind!r}, source)")
        t = {"kind": kind, "source": spec[1]}
    elif kind in ("bucket", "truncate"):
        if len(spec) != 3 or int(spec[2]) <= 0:
            raise ValueError(f"partition_by=({kind!r}, source, n>0)")
        t = {"kind": kind, "source": spec[1], "n": int(spec[2])}
    else:
        raise ValueError(
            f"unknown partition transform {kind!r} — days | hours | "
            "bucket | truncate"
        )
    if df is not None:
        if t["source"] not in df.columns:
            raise ValueError(
                f"transform source column {t['source']!r} is not in the "
                "DataFrame"
            )
        dt = dict(df.dtypes)[t["source"]]
        if kind in ("days", "hours") and not dt.startswith(("timestamp", "date")):
            raise ValueError(f"{kind} transform needs a timestamp/date "
                             f"source; {t['source']!r} is {dt}")
        if kind == "truncate" and dt != "string":
            raise ValueError(f"truncate transform needs a string source; "
                             f"{t['source']!r} is {dt}")
        # recorded for every transform: bucket probe pruning needs the
        # xxhash64 byte encoding Spark used (long: 8 LE, int: 4 LE,
        # string: UTF-8 — parity pinned in tests), and days/hours need
        # to know instant-vs-wall to pick UTC epoch arithmetic
        t["src_type"] = dt
    n = t.get("n")
    synth = f"_p_{kind}{n if n is not None else ''}_{t['source']}"
    return synth, t


def _seg_value_of(rel: str):
    """A data-relative file path's partition directory value (unescaped),
    or None for __HIVE_DEFAULT_PARTITION__ / unpartitioned files."""
    from urllib.parse import unquote

    if "/" not in rel:
        return None
    raw = rel.rsplit("/", 1)[0].partition("=")[2]
    val = unquote(raw)
    return None if val == "__HIVE_DEFAULT_PARTITION__" else val


def _transform_prune_keep(t: dict, seg, prunes: list[tuple]) -> bool:
    """Directory-level pruning for transform tables: can a file whose
    partition value is ``seg`` hold a row matching every (source-column)
    range in ``prunes``?  Sound by the same widened-bounds argument as
    stats pruning — unknown cases KEEP the file.  days: lexicographic
    yyyy-MM-dd compare against day-prefixes of ISO-ish bounds; truncate:
    prefix-interval intersection.  bucket/hours directory pruning is
    deliberately absent (bucket needs the engine's hash driver-side;
    blooms cover point lookups)."""
    import datetime as _dt

    if seg is None:
        return True  # NULL-source rows: never prune on a range
    kind = t["kind"]
    if kind == "days":
        def day_of(v):
            if isinstance(v, (_dt.datetime, _dt.date)):
                return v.isoformat()[:10]
            if isinstance(v, str) and len(v) >= 10:
                d = v[:10]
                if d[4] == "-" and d[7] == "-":
                    return d
            return None
        for _, lo, hi in prunes:
            lo_d = day_of(lo) if lo is not None else None
            hi_d = day_of(hi) if hi is not None else None
            if (hi_d is not None and seg > hi_d) or (
                lo_d is not None and seg < lo_d
            ):
                return False
        return True
    if kind == "hours":
        def hour_of(v):
            if isinstance(v, _dt.datetime):
                return v.strftime("%Y-%m-%d-%H")
            if isinstance(v, _dt.date):
                return v.isoformat() + "-00"
            if isinstance(v, str) and len(v) >= 13:
                d, h = v[:10], v[11:13]
                if d[4] == "-" and d[7] == "-" and h.isdigit():
                    return f"{d}-{h}"
            return None
        for _, lo, hi in prunes:
            lo_h = hour_of(lo) if lo is not None else None
            hi_h = hour_of(hi) if hi is not None else None
            if (hi_h is not None and seg > hi_h) or (
                lo_h is not None and seg < lo_h
            ):
                return False
        return True
    if kind == "truncate":
        upper = _trunc_upper(seg, len(seg)) if seg else None
        for _, lo, hi in prunes:
            if hi is not None and isinstance(hi, str) and seg > hi:
                return False
            if (
                lo is not None
                and isinstance(lo, str)
                and upper is not None
                and upper <= lo
            ):
                return False
        return True
    return True


def _bucket_seg_of(t: dict, val) -> str | None:
    """Driver-side replica of the bucket transform —
    ``pmod(xxhash64(col), n)`` — for point-probe directory pruning.
    Returns the bucket directory value, or None when it cannot be
    computed EXACTLY (unknown/unrecorded source dtype, or a probe value
    of the wrong Python type) — None means "prune nothing", never a
    guess: a wrong bucket silently drops matching rows.  Byte-encoding
    parity with Spark's XxHash64 (seed 42) is pinned in tests: bigint →
    8-byte LE, int → 4-byte LE, string → UTF-8."""
    import struct

    from etl_rust_spark.functions.hashing import xxhash64

    st = t.get("src_type")
    if isinstance(val, bool):
        return None
    if st == "bigint" and isinstance(val, int):
        data = struct.pack("<q", val)
    elif st == "int" and isinstance(val, int):
        data = struct.pack("<i", val)
    elif st == "string" and isinstance(val, str):
        data = val.encode("utf-8")
    else:
        return None
    h = xxhash64(data, seed=42)
    if h >= 1 << 63:
        h -= 1 << 64
    return str(h % int(t["n"]))


def _py_transform_value(t: dict, val, tz_name: str = "UTC") -> str:
    """Pure-Python twin of :func:`_transform_expr` for one value — the
    jar-free SINK's per-row synth derivation (no SparkSession in a
    DataSource writer).  MUST match Spark's rendering exactly: a row
    staged under the wrong directory value silently vanishes from
    later bucket point probes and day-range prunes, so anything this
    replica cannot compute EXACTLY raises (the `_bucket_seg_of`
    discipline — never a guess).

    ``tz_name`` is the writer's session timezone, captured DRIVER-side:
    instant (TimestampType) values arrive in the Python worker as
    naive datetimes rendered in the session zone, and the UTC epoch
    arithmetic needs the real instant back."""
    import datetime as _dt

    kind = t["kind"]
    if val is None:
        raise ValueError(
            f"NULL {t['source']!r} has no append-safe transform "
            "directory — route NULL-source rows through "
            "upsert_table_version"
        )
    if kind in ("days", "hours"):
        st = t.get("src_type", "")
        if st.startswith("timestamp") and st != "timestamp_ntz":
            if not isinstance(val, _dt.datetime):
                raise ValueError(
                    f"{kind} transform expected a datetime, got "
                    f"{type(val).__name__}"
                )
            if val.tzinfo is None:
                from zoneinfo import ZoneInfo

                val = val.replace(tzinfo=ZoneInfo(tz_name))
            # floor, not truncate-toward-zero: Spark's cast-to-bigint
            # floors, so a pre-1970 instant with fractional seconds
            # must land in the same day/hour directory
            import math as _math

            e = _math.floor(val.timestamp())
            d = (_dt.date(1970, 1, 1)
                 + _dt.timedelta(days=e // 86400)).isoformat()
            if kind == "days":
                return d
            return f"{d}-{(e // 3600) % 24:02d}"
        if isinstance(val, _dt.datetime):  # timestamp_ntz: wall value
            return val.strftime(
                "%Y-%m-%d" if kind == "days" else "%Y-%m-%d-%H"
            )
        if isinstance(val, _dt.date):
            return (val.isoformat() if kind == "days"
                    else val.isoformat() + "-00")
        raise ValueError(
            f"{kind} transform expected a date/datetime, got "
            f"{type(val).__name__}"
        )
    if kind == "bucket":
        seg = _bucket_seg_of(t, val)
        if seg is None:
            raise ValueError(
                f"bucket transform over {t.get('src_type')!r} has no "
                f"exact Python replica for {type(val).__name__} values "
                "— a wrong bucket directory silently drops the row "
                "from point probes; route through upsert_table_version"
            )
        return seg
    if kind == "truncate":
        if not isinstance(val, str):
            raise ValueError(
                f"truncate transform expected a string, got "
                f"{type(val).__name__}"
            )
        return val[: int(t["n"])]
    raise ValueError(f"unknown partition transform kind {kind!r}")


def _to_logical(df: DataFrame, m: dict) -> DataFrame:
    synth = _synth_of(m)
    if synth and synth in df.columns:
        df = df.drop(synth)
    cm = _column_map(m)
    if not cm:
        return df
    inv = {p: l for l, p in cm.items()}
    return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])


def _to_physical(df: DataFrame, m: dict) -> DataFrame:
    cm = _column_map(m)
    if cm:
        df = df.select(*[F.col(c).alias(cm.get(c, c)) for c in df.columns])
    t = _transform_of(m)
    synth = _synth_of(m)
    if t and synth and synth not in df.columns:
        # re-derive from the (physical) source column — pure expression,
        # so a row whose source value changed lands in its NEW directory
        df = df.withColumn(synth, _transform_expr(t))
    return df


_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape(value: str) -> str:
    """Spark's ExternalCatalogUtils.escapePathName: control chars and
    the Hive-special set become %XX (uppercase hex); everything else —
    including non-ASCII — passes through.  Derived from the escaped
    set probed empirically against Spark 4.1's partitioned writer
    (parity pinned in tests against Spark-written directories)."""
    return "".join(
        f"%{ord(ch):02X}" if ord(ch) < 32 or ch in _HIVE_ESCAPE_CHARS
        else ch
        for ch in value
    )


def _hive_part_segment(col: str, val) -> str:
    """Render + escape a partition directory segment exactly as Spark
    would, so sink-staged files land in the SAME directory as
    Spark-staged ones.  Value types whose Python rendering diverges
    from Spark's cast-to-string (float, timestamp) are rejected loudly
    — the bloom-probe discipline; route those through
    upsert_table_version, where Spark itself stages the directories."""
    import datetime as _dt

    if val is None:
        raise ValueError(
            "NULL partition values cannot be appended (Spark routes "
            "them to __HIVE_DEFAULT_PARTITION__ and isin() cannot "
            "match them) — route through a full snapshot"
        )
    if isinstance(val, bool):
        s = "true" if val else "false"
    elif isinstance(val, (str, int)):
        s = str(val)
    elif isinstance(val, _dt.date) and not isinstance(val, _dt.datetime):
        s = val.isoformat()
    else:
        raise ValueError(
            f"partition value {val!r} ({type(val).__name__}) has no "
            "append-safe directory rendering — use str/int/bool/date "
            "partition columns or route through upsert_table_version"
        )
    return f"{_hive_escape(col)}={_hive_escape(s)}"


def _arrow_canon(t) -> str:
    """Canonical form for footer-schema compatibility checks: large/
    small string+binary unify (writer-dependent, read-identical), list
    element field names drop (Spark names 'element', pyarrow 'item'),
    timestamps keep unit + utc-adjustedness only (parquet stores a
    BOOLEAN isAdjustedToUTC, not a zone name)."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}{',utc' if t.tz else ''}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_canon(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ", ".join(
            f"{t.field(i).name}: {_arrow_canon(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return f"map<{_arrow_canon(t.key_type)}, {_arrow_canon(t.item_type)}>"
    return str(t)


def _parquet_ts_canon(col) -> str:
    """Spark-visible type of a parquet timestamp column (the pyspark
    4.1.2 read mapping — arrow's schema string is NOT enough: INT96
    surfaces as tz-naive timestamp[ns] yet Spark reads it as
    TimestampType): INT96 → utc; annotated NANOS → NTZ (read natively,
    micros-truncated); MICROS/MILLIS by isAdjustedToUTC."""
    if col.physical_type == "INT96":
        return "ts:utc"
    lt = json.loads(col.logical_type.to_json())
    if lt.get("timeUnit") == "nanoseconds":
        return "ts:ntz"
    return "ts:utc" if lt.get("isAdjustedToUTC") else "ts:ntz"


def _footer_canon(f: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(f)
    s = pf.schema_arrow
    out = {n: _arrow_canon(s.field(n).type) for n in s.names}
    pqs = pf.schema
    for i in range(len(pqs)):
        c = pqs.column(i)
        # top-level timestamps only ('.' marks a nested path; nested
        # ones keep the arrow canon — the sink can't stage nested
        # types, so only same-writer files ever compare there)
        if "." not in c.name and out.get(c.name, "").startswith(
            "timestamp"
        ):
            out[c.name] = _parquet_ts_canon(c)
    return out


def _spark_json_canon(t) -> str:
    """Map a Spark schema-json type to the same canonical space as
    :func:`_arrow_canon` (the empty-head case: a delete-all manifest
    carries the schema json, no data file footer to compare against)."""
    flat = {
        "long": "int64", "integer": "int32", "short": "int16",
        "byte": "int8", "double": "double", "float": "float",
        "string": "string", "boolean": "bool", "binary": "binary",
        "date": "date32[day]", "timestamp": "ts:utc",
        "timestamp_ntz": "ts:ntz",
    }
    if isinstance(t, str):
        if t in flat:
            return flat[t]
        dm = re.match(r"decimal\((\d+),(\d+)\)$", t)
        if dm:
            return f"decimal128({dm.group(1)}, {dm.group(2)})"
    elif isinstance(t, dict):
        if t.get("type") == "array":
            return f"list<{_spark_json_canon(t['elementType'])}>"
        if t.get("type") == "struct":
            inner = ", ".join(
                f"{f['name']}: {_spark_json_canon(f['type'])}"
                for f in t["fields"]
            )
            return f"struct<{inner}>"
        if t.get("type") == "map":
            return (
                f"map<{_spark_json_canon(t['keyType'])}, "
                f"{_spark_json_canon(t['valueType'])}>"
            )
    raise ValueError(
        f"cannot canonicalize Spark type {t!r} for an append-schema "
        "check against an empty table — re-seed the schema with "
        "write_table_version instead of appending"
    )


def _trunc_upper(s: str, n: int) -> str | None:
    """Shortest string of <= n code points that upper-bounds every string
    with prefix ``s[:n]``: the prefix with its last incrementable code
    point bumped (skipping the UTF-16 surrogate gap so code-point order
    keeps matching Spark's UTF-8 byte order).  None when no such bound
    exists (prefix entirely U+10FFFF) — caller drops the stats entry."""
    p = s[:n]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c >= 0x10FFFF:
            continue
        return p[:i] + chr(0xE000 if c == 0xD7FF else c + 1)
    return None
