"""Managed tables: partitioned parquet + manifest MVCC + MERGE emulation.

The reference persists everything as Delta tables and writes exclusively
via ``DeltaTable.merge`` (SURVEY.md §2.A S4-S7). ``delta-spark`` is not
available in this environment, so this module provides the same four
write primitives over plain parquet with a manifest-based MVCC layer
(the same shape as Delta/Iceberg snapshots):

- every version is a **manifest**: a map from partition value tuple to
  the immutable data directory holding that partition's current files;
- a write stages only the partitions it touches into a fresh
  ``data/w=<version>/`` tree and the new manifest reuses the previous
  entries for every untouched partition — **merge cost scales with the
  batch's partitions, not with table size** (a full-table copy per
  micro-batch would be fatal at 100 TB);
- ``_LATEST`` is a pointer file swapped atomically (os.replace);
- ``_SCHEMA`` persists the declared schema (JSON) so a fresh process —
  or an empty freshly-created table, which has no data files to infer
  from — reads back correctly;
- readers always read the pointed-at manifest → no read-overwrite
  conflict, re-runnable pipelines, cheap time travel for debugging;
- data dirs are retained until an explicit ``vacuum()`` (mirroring
  Delta's VACUUM) so lazily-evaluated readers of older versions keep
  working across subsequent writes.

At cluster scale the pointer swap is a metadata-only commit (same idea
as Delta's transaction log, minus concurrent-writer arbitration, which
the reference never exercises — its orchestration is sequential,
readme.md:70-88). The pointer/schema/manifest files use driver-local
``open``/``os.replace`` — local-FS only by design in this sandbox; an
object-store deployment would swap in a conditional-PUT commit.

Partition-scoped merging requires that a source row can only match
target rows in its own partition: always true for the all-column match
of ``merge_insert_only``; true for keyed merges when the partition
columns are a subset of the merge keys (the reference's gold tables all
satisfy this — e.g. Gold-Orders-By-City.py:69-80 merges on
city/year/month over a year/month layout). Otherwise these fall back to
a full rewrite, like Delta falls back to scanning all files when no
pruning predicate exists.

Primitives (reference parity):
- create_if_not_exists        — S4 (Bronze-Ingestion-Customers.py:40-45)
- merge_insert_only           — S5 idempotent append (…:51-58): source
  rows with no all-column match in the target are appended.
- merge_update                — S6 update-matched-only (Silver-DLQ-*.py)
- merge_upsert                — S7 keyed upsert (Gold-*.py:74-81)
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Collection, Mapping, Sequence
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

_LATEST = "_LATEST"
_SCHEMA = "_SCHEMA"
_MANIFEST_PREFIX = "_MANIFEST.v="
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# Delta indexes min/max for the first 32 columns by default
# (delta.dataSkippingNumIndexedCols); same cap here.
_STATS_MAX_COLS = 32

_FILTER_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "between",
               "is_null", "is_not_null")


def _relax_nullability(dt):
    """The same type with every nested containsNull/valueContainsNull/
    field nullability forced true — the value-compatible equivalence
    class for write-side coercion (Spark refuses casts TO non-null
    inner fields, and parquet bytes are identical either way)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _relax_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _relax_nullability(dt.keyType),
            _relax_nullability(dt.valueType),
            True,
        )
    return dt

# Delta writes a parquet checkpoint of its log every 10 commits
# (delta.checkpointInterval); same default here.
_CHECKPOINT_INTERVAL = 10
# Below this file count the per-file Python loop on the driver is
# faster than a Spark job; above it the stats evaluation moves to
# executors — at millions of files the driver loop is Delta's
# pre-checkpoint latency cliff. Measured crossover at 10k files
# (scripts/measure_distributed_prune.py, last held at commit aaebf3b):
# driver loop ~9.4 µs/file (94 ms at 10k) vs ~1 s Spark job floor →
# ~100k files.
_DISTRIBUTED_PRUNE_MIN_FILES = 100_000
_CKPT_DIR = "_checkpoints"
# Bloom-filter file index (Databricks `CREATE BLOOMFILTER INDEX` /
# delta.bloomFilter analogue): per-file bitmaps in sidecar parquet
# under _bloom/, consulted by `_prune` for =/IN literals on indexed
# columns — the skipping tool for HIGH-cardinality point lookups,
# where min/max bounds prove nothing (a UUID column's every file
# spans ~the whole key space). fpp/ndv defaults mirror Databricks'
# (0.1 fpp, 1M items); the m/k formulas are the textbook optimum.
_BLOOM_DIR = "_bloom"
_BLOOM_DEFAULT_FPP = 0.01
_BLOOM_DEFAULT_NDV = 1_000_000
_BLOOM_MAX_BITS = 1 << 27  # 16 MiB/file/col cap, Databricks-sized


def _bloom_params(ndv: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for `ndv` expected distinct values at
    false-positive rate `fpp`; m rounded up to a whole byte, both sides
    (write + prune) derive positions from these stored values only."""
    import math

    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    if ndv < 1:
        raise ValueError(f"ndv must be >= 1, got {ndv}")
    m = int(math.ceil(-ndv * math.log(fpp) / (math.log(2) ** 2)))
    m = min(max(64, (m + 7) // 8 * 8), _BLOOM_MAX_BITS)
    k = max(1, min(16, round(m / ndv * math.log(2))))
    return m, k


def _num_lo(v: float | int) -> float:
    """Largest double <= v: an int beyond 2^53 may round UP when cast
    to double — a min bound stored rounded-up could wrongly prune a
    boundary probe, so bounds are widened OUTWARD (same reasoning as
    ``_stat_scalar``'s Decimal widening)."""
    import math

    f = float(v)
    return math.nextafter(f, -math.inf) if f > v else f


def _num_hi(v: float | int) -> float:
    """Smallest double >= v (max-bound twin of ``_num_lo``)."""
    import math

    f = float(v)
    return math.nextafter(f, math.inf) if f < v else f


def _stat_scalar(v, round_toward: float | None = None):
    """Normalize a parquet-footer stat (or a filter literal) to a
    JSON-storable, order-preserving scalar: numbers stay numbers,
    dates/timestamps become fixed-width ISO strings (lexicographic
    order == chronological order; tz-aware values are converted to UTC
    and the offset dropped so they stay comparable with naive ones),
    Decimal becomes float. Unsupported types (binary, nested) → None =
    not indexable.

    ``round_toward`` (−inf for a min, +inf for a max) widens a lossy
    Decimal→float conversion OUTWARD by one ulp: float() rounds to
    nearest, and a min bound that rounded UP (or a max that rounded
    DOWN) could wrongly prune a boundary probe. Filter literals pass
    None — no widening."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat() + "T00:00:00.000000"
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if round_toward is not None and decimal.Decimal(f) != v:
            import math

            f = math.nextafter(f, round_toward)
        return f
    return None


def _comparable(a, b) -> bool:
    """True when two normalized stat scalars have a total order the
    pruning logic may rely on (both numeric or both strings)."""
    num = (int, float)
    return (isinstance(a, num) and isinstance(b, num)) or (
        isinstance(a, str) and isinstance(b, str)
    )


_BLOOM_HASH_TYPES = ("tinyint", "smallint", "int", "bigint", "string",
                     "date")


def _coerce_bloom_literal(v, t: str):
    """The filter literal as the exact value the indexed column holds,
    or None when no exact coercion exists (clause becomes untestable —
    sound). Mirrors what casting the literal to the column type does
    for the EXACT cases; anything lossy or ambiguous is skipped."""
    if v is None or isinstance(v, bool):
        return None
    if t in ("tinyint", "smallint", "int", "bigint"):
        if not isinstance(v, int):
            return None
        bits = {"tinyint": 7, "smallint": 15, "int": 31, "bigint": 63}[t]
        return v if -(1 << bits) <= v < (1 << bits) else None
    if t == "string":
        return v if isinstance(v, str) else None
    if t == "date":
        if isinstance(v, datetime.datetime):
            return None  # timestamp→date cast is tz-dependent: skip
        return v if isinstance(v, datetime.date) else None
    return None


def _bloom_positions_py(
    clauses: list[tuple[str, list]],
    bloom: Mapping[str, dict],
    types: Mapping[str, str],
) -> list[tuple[str, int, int, list[list[int]]]]:
    """Bit positions per clause literal via the pure-Python Spark-
    compatible XXH64 (sources/_xxh64.py): position_i =
    pmod(xxhash64(value, i), m), the same fold the sidecar writer's
    ``F.xxhash64(col, F.lit(i))`` computed — bit-equality is
    property-tested, which is what makes this sound."""
    from ._xxh64 import SEED, hash_int, hash_value, signed

    out: list[tuple[str, int, int, list[list[int]]]] = []
    for col, lits in clauses:
        m, k = int(bloom[col]["m"]), int(bloom[col]["k"])
        t = types.get(col)
        if t not in _BLOOM_HASH_TYPES:
            continue
        pos_lists: list[list[int]] = []
        ok = True
        for v in lits:
            cv = _coerce_bloom_literal(v, t)
            if cv is None:
                ok = False
                break
            h0 = hash_value(cv, t, SEED)
            if h0 is None:
                ok = False
                break
            pos_lists.append(
                [signed(hash_int(i, h0)) % m for i in range(k)]
            )
        if ok and pos_lists:
            out.append((col, m, k, pos_lists))
    return out


# Generated columns (Delta `GENERATED ALWAYS AS`): the derivable
# expression shapes — monotonic non-decreasing functions of one source
# column, the property that makes range/equality filters on the SOURCE
# translate soundly into filters on the GENERATED (usually partition)
# column. Delta's optimizer recognizes the same family; month()/
# dayofmonth() alone are NOT monotonic and are compute-only.
_GEN_SHAPES = [
    (re.compile(r"^CAST\s*\(\s*(\w+)\s+AS\s+DATE\s*\)$", re.I),
     lambda m: ("to_date", None, m.group(1))),
    (re.compile(r"^to_date\s*\(\s*(\w+)\s*\)$", re.I),
     lambda m: ("to_date", None, m.group(1))),
    (re.compile(
        r"^date_trunc\s*\(\s*'(year|month|week|day|hour)'\s*,\s*(\w+)\s*\)$",
        re.I),
     lambda m: ("date_trunc", m.group(1).lower(), m.group(2))),
    (re.compile(r"^year\s*\(\s*(\w+)\s*\)$", re.I),
     lambda m: ("year", None, m.group(1))),
    # month is NOT monotonic — derivable only for =/IN (always implied)
    # and for ranges whose endpoint YEARS coincide (the (year, month)
    # pair rule Delta applies); the derivation gates on that below
    (re.compile(r"^month\s*\(\s*(\w+)\s*\)$", re.I),
     lambda m: ("month", None, m.group(1))),
    (re.compile(r"^substr(?:ing)?\s*\(\s*(\w+)\s*,\s*1\s*,\s*(\d+)\s*\)$",
                re.I),
     lambda m: ("substr", int(m.group(2)), m.group(1))),
]


def _parse_generation_expr(expr: str):
    """(fn, arg, src) for a derivable generation expression, or None
    for a recognized-as-opaque one (computed on write, enforced on
    every write, but never used for pruning)."""
    e = expr.strip()
    for rx, mk in _GEN_SHAPES:
        m = rx.match(e)
        if m:
            return mk(m)
    return None


def _gen_apply(fn: str, arg, v):
    """The generation function applied to a FILTER LITERAL, in Python,
    with exactly Spark's semantics for the supported shapes. Returns
    None when the literal's type doesn't fit — the derivation is then
    skipped (sound)."""
    if v is None:
        return None
    if isinstance(v, str) and fn in ("to_date", "year", "month",
                                     "date_trunc"):
        # the pushdown reader hands timestamp literals as ISO strings
        # (possibly tz-aware); parse to the datetime the shapes expect
        try:
            v = datetime.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return None
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if fn == "to_date":
        if isinstance(v, datetime.datetime):
            return v.date()
        if isinstance(v, datetime.date):
            return v
        return None
    if fn == "year":
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.year
        return None
    if fn == "month":
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.month
        return None
    if fn == "date_trunc":
        if isinstance(v, datetime.date) and not isinstance(
            v, datetime.datetime
        ):
            v = datetime.datetime(v.year, v.month, v.day)
        if not isinstance(v, datetime.datetime):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        day0 = v.replace(hour=0, minute=0, second=0, microsecond=0)
        if arg == "year":
            return day0.replace(month=1, day=1)
        if arg == "month":
            return day0.replace(day=1)
        if arg == "week":  # Spark: preceding Monday
            return day0 - datetime.timedelta(days=v.weekday())
        if arg == "day":
            return day0
        if arg == "hour":
            return v.replace(minute=0, second=0, microsecond=0)
        return None
    if fn == "substr":
        return v[: int(arg)] if isinstance(v, str) else None
    return None


def _derived_generated_triples(
    filters: Sequence[tuple], generated: Mapping[str, dict]
) -> list[tuple]:
    """Extra filter triples on generated columns implied by filters on
    their SOURCE columns — e.g. ``ts BETWEEN a AND b`` on a table
    partitioned by ``d = CAST(ts AS DATE)`` implies ``d BETWEEN
    date(a) AND date(b)``, which the stats pruner turns into partition
    pruning. Sound because every supported shape is monotonic
    non-decreasing and null-propagating."""
    by_src: dict[str, list[tuple[str, dict]]] = {}
    for g, spec in generated.items():
        if spec.get("fn"):
            by_src.setdefault(spec["src"], []).append((g, spec))
    if not by_src:
        return []
    out: list[tuple] = []
    for t in filters:
        col, op = t[0], t[1]
        for g, spec in by_src.get(col, ()):
            fn, arg = spec["fn"], spec.get("arg")
            # month is non-monotonic: only equality-shaped derivations
            # are unconditional; ranges derive only when the endpoint
            # YEARS coincide (the (year, month) pair rule)
            monotonic = fn != "month"
            if op in ("=", "=="):
                m = _gen_apply(fn, arg, t[2])
                if m is not None:
                    out.append((g, "=", m))
            elif op in ("<", "<="):
                m = _gen_apply(fn, arg, t[2]) if monotonic else None
                if m is not None:
                    out.append((g, "<=", m))
            elif op in (">", ">="):
                m = _gen_apply(fn, arg, t[2]) if monotonic else None
                if m is not None:
                    out.append((g, ">=", m))
            elif op == "between":
                lo, hi = _gen_apply(fn, arg, t[2]), _gen_apply(fn, arg, t[3])
                if not monotonic and (
                    _gen_apply("year", None, t[2])
                    != _gen_apply("year", None, t[3])
                    or _gen_apply("year", None, t[2]) is None
                ):
                    lo = hi = None  # cross-year window: months wrap
                if lo is not None and hi is not None:
                    out.append((g, "between", lo, hi))
            elif op == "in":
                ms = [_gen_apply(fn, arg, v) for v in t[2]]
                if ms and all(m is not None for m in ms):
                    out.append((g, "in", ms))
            elif op in ("is_null", "is_not_null"):
                out.append((g, op))
    return out


_APPEND_SUFFIX_RE = re.compile(r"@data/w=\d+-[0-9a-f]{8}$")

# a carry entry's suffix: "@carry:" + the carried data FILE's rel path
# (round 15, per-file copy-on-write). End-anchored on ".parquet" — a
# bare base key is JSON of partition values and always ends with a
# closing quote/bracket, never ".parquet", so a key containing a
# literal "@carry:" in a partition VALUE is never truncated.
_CARRY_SUFFIX_RE = re.compile(r"@carry:.*\.parquet$")


def _base_key(k: str) -> str:
    """Strip an append entry's ``@data/w=<N>-<hex8>`` suffix (or a
    per-file carry entry's ``@carry:<file rel>`` suffix) to get the
    base partition key. The base key is ``json.dumps`` of partition
    VALUES, which may themselves contain ``@`` (emails, user ids) — a
    naive ``split('@', 1)`` truncates those to a JSON prefix and a
    later partition-scoped merge then fails to retire the partition's
    earlier append entries, leaving duplicate rows (ADVICE r07). The
    end-anchored regexes are unambiguous: a suffix-less key always ends
    with the JSON ``]``/``}``/quote, never the hex tail or ``.parquet``."""
    return _APPEND_SUFFIX_RE.sub("", _CARRY_SUFFIX_RE.sub("", k))


def _rel_is_file(rel: str) -> bool:
    """True when a manifest rel references a single data FILE (a
    file-granular carry entry left behind by a per-file copy-on-write
    rewrite) rather than a leaf directory. Data files are always
    ``*.parquet`` and Spark part-file basenames never contain ``=`` —
    while a hive partition dir for a string VALUE ending ``.parquet``
    (``src=export.parquet``) always does, so the ``=`` check keeps
    such dirs classified as dirs (a misclassification here would make
    repair() drop the live entry and under-declare CoW write sets).
    The carry writer refuses to create entries for the rare foreign
    file whose basename carries ``=`` (see ``_assemble``)."""
    bn = os.path.basename(rel)
    return bn.endswith(".parquet") and "=" not in bn


def _rel_covers(rel_set, f: str) -> bool:
    """Whether any manifest rel in ``rel_set`` covers data file ``f``:
    either the file itself (file-granular carry entry) or its leaf
    dir (ordinary entry)."""
    return f in rel_set or os.path.dirname(f) in rel_set


class _KeyBloom:
    """Driver-held Bloom sketch of a DML source's key set (round 15):
    the declared read predicate for key sets ABOVE ``_KEY_SET_CAP``,
    where materializing the exact ``in`` list would blow the driver.
    Built by ONE distributed aggregate (``pmod(xxhash64(col, lit(i)),
    m)`` positions bit-packed into ≤ m/64 longs), probed at
    conflict-check time against a racing add's actual key values
    hashed by the SAME JVM expression — bit-identity by construction.
    Sound: false positives only cause a conservative conflict. Lives
    only in this transaction's in-memory conflict checks, never
    persisted."""

    __slots__ = ("m", "k", "words")

    def __init__(self, m: int, k: int, words: dict):
        self.m = m
        self.k = k
        self.words = words

    def has_positions(self, pos_list) -> bool:
        """All k bit positions set → the value MAY be in the key set."""
        return all(
            (self.words.get(p >> 6, 0) >> (p & 63)) & 1 for p in pos_list
        )



def _manifest_version_of(entry: str) -> int | None:
    """Version number of a manifest directory entry, or None for
    non-manifest names INCLUDING a crashed writer's leftover
    ``…tmp.<pid>`` files — listing loops must skip those instead of
    crashing on int()."""
    if not entry.startswith(_MANIFEST_PREFIX):
        return None
    suffix = entry[len(_MANIFEST_PREFIX):]
    return int(suffix) if suffix.isdigit() else None


def _write_root(path: str) -> str:
    """The ``…data/w=<N>`` prefix of a manifest path — the basePath for
    hive partition-column recovery. Works for both the usual
    location-relative paths and the absolute paths a shallow clone's
    manifest holds."""
    parts = path.split("/")
    for i, p in enumerate(parts):
        if p.startswith("w=") and i > 0 and parts[i - 1] == "data":
            return "/".join(parts[: i + 1])
    return os.path.dirname(path) or path


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this transaction was about
    to claim (Delta's ConcurrentAppendException analogue). The losing
    transaction's staged files are discarded; retry by re-running the
    merge against the new current version."""


_MANIFEST_CACHE: "dict[tuple, dict]" = {}
_MANIFEST_CACHE_MAX = 64


def _load_manifest_json(path: str) -> dict:
    """Parse a manifest file ONCE per (path, mtime, size) — manifests
    are immutable after the hard-link commit claim, so the cache can
    never serve stale content; the mtime/size key guards even against
    out-of-band replacement. Without this, every metadata reader
    (constraints, bloom, generated, identity, properties, defaults,
    cluster state, stats, DVs, txn — consulted per commit and per
    mutation guard) re-parses the full JSON, which carries per-file
    stats and grows with the table. Callers receive the SHARED parsed
    dict: they must copy before mutating (every reader below does)."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    m = _MANIFEST_CACHE.get(key)
    if m is None:
        with open(path) as fh:
            m = json.loads(fh.read())
        if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
            # simple bounded eviction: drop the oldest half
            for k in list(_MANIFEST_CACHE)[: _MANIFEST_CACHE_MAX // 2]:
                _MANIFEST_CACHE.pop(k, None)
        _MANIFEST_CACHE[key] = m
    return m


class ManagedTable:
    """A named, partitioned, versioned parquet table."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        location: str,
        schema: StructType | None = None,
        partition_columns: Sequence[str] | None = None,
        sort_columns: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        retain_versions: int | None = None,
        distributed_prune_threshold: int | None = None,
        auto_compact: bool = False,
        auto_compact_min_files: int = 50,
    ):
        self.spark = spark
        self.name = name
        self.location = location
        self.schema = schema
        # None: the committed layout of an existing table, else none
        self.partition_columns = list(partition_columns or ())
        # clustering within files: rows sorted by these columns before
        # write, so parquet row-group min/max stats prune point/range
        # scans on them (the Z-order-lite that plain parquet offers)
        self.sort_columns = list(sort_columns)
        # auto-vacuum: keep only the newest N versions after each commit
        # (Delta's checkpoint-retention analogue for write-heavy tables,
        # e.g. a streaming sink committing per micro-batch). None (the
        # default) retains everything until an explicit vacuum() —
        # auto-gc is only safe when no reader holds a lazily-evaluated
        # DataFrame of an older version across commits, which is true
        # for the read-merge-write cycle inside foreachBatch but not in
        # general.
        self.retain_versions = retain_versions
        # file count at which pruning moves from the driver loop to a
        # Spark job over the stats checkpoint (Delta evaluates skipping
        # predicates over its checkpoint the same way)
        self.distributed_prune_threshold = (
            _DISTRIBUTED_PRUNE_MIN_FILES
            if distributed_prune_threshold is None
            else distributed_prune_threshold
        )
        # Databricks delta.autoOptimize.autoCompact parity: after a
        # data commit, any partition that has accumulated
        # ≥ auto_compact_min_files small files is bin-packed in a
        # follow-up OPTIMIZE commit — bounding the small-file explosion
        # of per-micro-batch streaming sinks without a scheduled
        # maintenance job. The OPTIMIZE itself never auto-compacts
        # (no recursion) and losing a compaction race is best-effort
        # (the data commit already succeeded).
        self.auto_compact = auto_compact
        self.auto_compact_min_files = auto_compact_min_files
        if self.schema is None:
            self.schema = self._load_schema()
        # CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity):
        # name -> SQL boolean expression, enforced on every write.
        # VERSIONED in the manifest (Delta keeps them in the table
        # metadata of the log): add/drop are commits, RESTORE restores
        # the set, and a data write racing a constraint change loses
        # the version claim and re-validates.
        v0 = self.current_version()
        if partition_columns is None and v0 >= 0:
            self.partition_columns = self._committed_partition_columns(v0) or []
        self.constraints: dict[str, str] = (
            self._read_constraints(v0) if v0 >= 0 else self._load_constraints()
        )
        # Column mapping (Delta's columnMapping.mode=name analogue):
        # logical name -> PHYSICAL name as stored in parquet files.
        # Only non-identity entries are kept. Physical names never
        # change after a column is first written; RENAME COLUMN is a
        # metadata-only commit that redirects the logical name. Data
        # files, footer stats and DV keys all live in physical space;
        # every read aliases physical -> logical, every write renames
        # logical -> physical. Versioned in the manifest like
        # constraints.
        self.renames: dict[str, str] = (
            self._read_renames(v0) if v0 >= 0 else {}
        )
        # Bloom-filter index config (PHYSICAL column -> {fpp, ndv, m, k}),
        # versioned in the manifest like constraints/renames.
        self.bloom: dict[str, dict] = (
            self._read_bloom(v0) if v0 >= 0 else {}
        )
        # Generated columns (Delta GENERATED ALWAYS AS): col ->
        # {expr, fn, arg, src}. Declared BEFORE creation only (a
        # generation expression set over pre-existing data could not
        # soundly drive pruning), carried in every manifest.
        self.generated: dict[str, dict] = (
            self._read_generated(v0) if v0 >= 0 else {}
        )
        # Identity columns (Delta GENERATED ALWAYS AS IDENTITY): col ->
        # {start, step, next}. `next` is the transactional high
        # watermark — bumped atomically WITH the data commit that
        # consumed the ids, so two racing writers can never hand out
        # the same id (the loser's stale base fails the claim check).
        self.identity: dict[str, dict] = (
            self._read_identity(v0) if v0 >= 0 else {}
        )
        # COPY INTO load history (Databricks COPY INTO): source file ->
        # [size, mtime_ns], committed atomically with the rows it
        # loaded — the file-granular exactly-once ledger.
        self.copy_files: dict[str, list] = (
            self._read_copy_files(v0) if v0 >= 0 else {}
        )
        # Table properties (Delta TBLPROPERTIES): free-form key -> value
        # strings, versioned in the manifest like constraints. A few
        # keys are FUNCTIONAL (the same ones Delta interprets):
        # delta.appendOnly blocks every row-removing/rewriting commit,
        # delta.autoOptimize.autoCompact turns on post-commit
        # bin-packing.
        self.properties: dict[str, str] = (
            self._read_properties(v0) if v0 >= 0 else {}
        )
        # Column DEFAULT expressions (ANSI/Delta defaultExpr): applied
        # when an INSERT's column list omits the column.
        self.defaults: dict[str, str] = (
            self._read_defaults(v0) if v0 >= 0 else {}
        )
        # Liquid-clustering analogue (Databricks CLUSTER BY): the
        # clustering keys plus the set of entry dirs ALREADY clustered —
        # cluster() rewrites only the complement (incremental OPTIMIZE).
        # An existing table's manifest wins over the constructor arg.
        self.cluster_by: list[str] = (
            self._read_cluster_by(v0) if v0 >= 0 else list(cluster_by)
        )
        self.clustered_rels: list[str] = (
            self._read_clustered(v0) if v0 >= 0 else []
        )
        if (
            self.properties.get("delta.autoOptimize.autoCompact", "")
            .lower() in ("true", "auto")
        ):
            self.auto_compact = True

    # ------------------------------------------------------------------ meta
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.location, _LATEST)

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.location, _SCHEMA)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.location, f"{_MANIFEST_PREFIX}{version}")

    def exists(self) -> bool:
        return os.path.exists(self._pointer_path)

    def current_version(self) -> int:
        """Highest committed version. The pointer file is a HINT: the
        manifest claim (O_EXCL link in ``_write_manifest``) is the
        real commit decision — data files are fully staged before it —
        so roll forward past the pointer while newer manifests exist.
        This makes commits linearizable under the append-rebase race
        (a loser's pointer write can lag a later winner's)."""
        if not self.exists():
            return -1
        with open(self._pointer_path) as f:
            v = int(f.read().strip())
        while os.path.exists(self._manifest_path(v + 1)):
            v += 1
        return v

    def _commit(self, version: int) -> None:
        # monotonic: never regress the pointer below a version another
        # writer already published (the claim decided the commit; this
        # is cache maintenance)
        if self.exists():
            with open(self._pointer_path) as f:
                if int(f.read().strip()) >= version:
                    return
        tmp = f"{self._pointer_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer_path)  # atomic pointer swap

    def _save_schema(self) -> None:
        if self.schema is None:
            return
        os.makedirs(self.location, exist_ok=True)
        tmp = self._schema_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self.schema.json())
        os.replace(tmp, self._schema_path)

    def _load_schema(self) -> StructType | None:
        if not os.path.exists(self._schema_path):
            return None
        with open(self._schema_path) as f:
            return StructType.fromJson(json.loads(f.read()))

    @property
    def _constraints_path(self) -> str:
        return os.path.join(self.location, "_CONSTRAINTS")

    def _load_constraints(self) -> dict[str, str]:
        """Legacy side-file fallback (pre-versioned-constraint tables);
        current tables carry the set in every manifest."""
        if not os.path.exists(self._constraints_path):
            return {}
        with open(self._constraints_path) as f:
            return json.loads(f.read())

    def _read_constraints(self, version: int) -> dict[str, str]:
        """The CHECK constraint set committed WITH a version. Manifests
        written before constraints were versioned lack the key — fall
        back to the legacy side file so old tables keep enforcing."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return self._load_constraints()
        m = _load_manifest_json(path)
        if "constraints" in m:
            return dict(m["constraints"])
        return self._load_constraints()

    def add_constraint(self, name: str, expression: str) -> None:
        """Delta ``ALTER TABLE … ADD CONSTRAINT name CHECK (expr)``:
        the expression must hold for every EXISTING row (verified now,
        one scan) and is enforced on every subsequent write — a staged
        batch containing a violating row aborts before the commit, so
        no version ever contains it. SQL CHECK semantics: NULL passes,
        only ``expr IS FALSE`` violates.

        The change is a metadata-only COMMIT carrying the new
        constraint set (DESCRIBE HISTORY records it, RESTORE restores
        it). The atomic version claim makes validate-then-install race-
        safe against concurrent data writes: a write staged before this
        commit targets the same version number and loses, re-validating
        against the new set on retry."""
        v = self.current_version()
        if v >= 0:
            bad = (
                self.read()
                .filter(~F.coalesce(F.expr(expression), F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"table {self.name}: existing rows violate CHECK "
                    f"constraint {name!r} ({expression})"
                )
            self.constraints[name] = expression
            try:
                self._commit_metadata_only(op=f"ADD CONSTRAINT {name}")
            except BaseException:
                self.constraints.pop(name, None)
                raise
        else:
            # pre-creation declaration: carried into manifest v0 by
            # create_if_not_exists
            self.constraints[name] = expression

    def drop_constraint(self, name: str) -> None:
        if name not in self.constraints:
            return
        dropped = self.constraints.pop(name)
        if self.current_version() >= 0:
            try:
                self._commit_metadata_only(op=f"DROP CONSTRAINT {name}")
            except BaseException:
                self.constraints[name] = dropped
                raise

    def _read_cluster_by(self, version: int) -> list[str]:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return []
        m = _load_manifest_json(path)
        return [str(c) for c in m.get("cluster_by", [])]

    def _read_clustered(self, version: int) -> list[str]:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return []
        m = _load_manifest_json(path)
        return [str(r) for r in m.get("clustered", [])]

    def set_cluster_by(self, columns: Sequence[str]) -> int:
        """``ALTER TABLE … CLUSTER BY (c, …)`` / ``CLUSTER BY NONE``
        (empty) — metadata-only commit. Changing the keys resets the
        clustered set: every file re-clusters on the next OPTIMIZE
        (Databricks does the same — new keys, new layout)."""
        if self.schema:
            known = {f.name for f in self.schema.fields}
            bad = [c for c in columns if c not in known]
            if bad:
                raise ValueError(
                    f"table {self.name}: unknown CLUSTER BY column(s) {bad}"
                )
        self.cluster_by = list(columns)
        self.clustered_rels = []
        if self.current_version() >= 0:
            return self._commit_metadata_only(
                op="CLUSTER BY " + (", ".join(columns) or "NONE")
            )
        return self.current_version()

    def _read_defaults(self, version: int) -> dict[str, str]:
        """Column DEFAULT expressions committed WITH a version."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {k: str(v) for k, v in m.get("defaults", {}).items()}

    def widen_column(self, column: str, new_type) -> int:
        """``ALTER TABLE … ALTER COLUMN c TYPE <wider>`` — Delta 4's
        type widening: a METADATA-ONLY commit changes the declared
        type; existing parquet bytes are read through the widened
        schema (Spark 4's parquet readers upcast int32→long,
        float→double, integral→double/decimal, decimal precision
        growth natively — no rewrite, no backfill). Only provably
        lossless widenings are allowed:

        - byte → short → int → long (any step up the chain);
        - float → double;
        - byte/short/int → double;
        - byte/short/int/long → decimal(p, s) with enough integer
          digits (p − s ≥ 3/5/10/20 respectively);
        - decimal(p1, s1) → decimal(p2, s2) with s2 ≥ s1 and
          p2 − s2 ≥ p1 − s1.

        Refused: narrowing or cross-family changes (use a rewrite),
        generated/identity columns (their expression/watermark types
        are fixed), and BLOOMFILTER-indexed columns (the sidecar
        bitmaps hash the ORIGINAL Spark type — xxhash64(int) ≠
        xxhash64(long), so probes after a widen would false-negative
        prune; DROP the index first, re-create after)."""
        from pyspark.sql.types import (
            ByteType, DecimalType, DoubleType, FloatType, IntegerType,
            LongType, ShortType, _parse_datatype_string,
        )

        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None or column not in {
            f.name for f in self.schema.fields
        }:
            raise ValueError(f"table {self.name}: no such column {column!r}")
        if isinstance(new_type, str):
            new_type = _parse_datatype_string(new_type)
        old_type = next(
            f.dataType for f in self.schema.fields if f.name == column
        )
        rank = {ByteType: 1, ShortType: 2, IntegerType: 3, LongType: 4}
        digits = {ByteType: 3, ShortType: 5, IntegerType: 10, LongType: 20}
        o, n = type(old_type), type(new_type)
        ok = False
        if o in rank and n in rank and rank[n] > rank[o]:
            ok = True
        elif o is FloatType and n is DoubleType:
            ok = True
        elif o in rank and rank[o] <= 3 and n is DoubleType:
            ok = True
        elif o in rank and isinstance(new_type, DecimalType):
            ok = (new_type.precision - new_type.scale) >= digits[o]
        elif isinstance(old_type, DecimalType) and isinstance(
            new_type, DecimalType
        ):
            ok = (
                new_type.scale >= old_type.scale
                and (new_type.precision - new_type.scale)
                >= (old_type.precision - old_type.scale)
            )
        if not ok:
            raise ValueError(
                f"table {self.name}: {old_type.simpleString()} → "
                f"{new_type.simpleString()} is not a lossless widening "
                f"for column {column!r}"
            )
        if column in self.generated or column in self.identity:
            raise ValueError(
                f"table {self.name}: {column!r} is generated/identity — "
                "its type is fixed by the expression/watermark"
            )
        if column in self.bloom:
            raise ValueError(
                f"table {self.name}: {column!r} carries a BLOOMFILTER "
                "index whose bitmaps hash the original type; DROP the "
                "index before widening, re-create it after"
            )
        from pyspark.sql.types import StructField, StructType

        self.schema = StructType(
            [
                StructField(f.name, new_type if f.name == column else f.dataType,
                            f.nullable, f.metadata)
                for f in self.schema.fields
            ]
        )
        return self._commit_metadata_only(op="ALTER COLUMN TYPE")

    def set_column_default(self, column: str, expr: str) -> int:
        """``ALTER TABLE … ALTER COLUMN c SET DEFAULT expr`` — the
        expression (any deterministic Spark SQL over literals) fills
        the column when an INSERT's column list omits it. Metadata-only
        commit; versioned and restore-aware like constraints."""
        if self.schema and column not in {f.name for f in self.schema.fields}:
            raise ValueError(
                f"table {self.name}: no such column {column!r}"
            )
        if column in self.generated or column in self.identity:
            raise ValueError(
                f"table {self.name}: {column!r} is generated/identity — "
                "its value is always computed, a DEFAULT would never apply"
            )
        prev = dict(self.defaults)
        self.defaults[column] = expr
        if self.current_version() >= 0:
            try:
                return self._commit_metadata_only(
                    op=f"SET DEFAULT {column}"
                )
            except BaseException:
                self.defaults = prev
                raise
        return self.current_version()

    def drop_column_default(self, column: str) -> int:
        if column not in self.defaults:
            return self.current_version()
        prev = dict(self.defaults)
        self.defaults.pop(column)
        if self.current_version() >= 0:
            try:
                return self._commit_metadata_only(
                    op=f"DROP DEFAULT {column}"
                )
            except BaseException:
                self.defaults = prev
                raise
        return self.current_version()

    def _read_properties(self, version: int) -> dict[str, str]:
        """The TBLPROPERTIES map committed WITH a version; manifests
        written before properties existed return the empty map."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {k: str(v) for k, v in m.get("properties", {}).items()}

    def set_properties(self, props: Mapping[str, str]) -> int:
        """``ALTER TABLE … SET TBLPROPERTIES (k = v, …)`` — a
        metadata-only commit carrying the merged map (DESCRIBE HISTORY
        records it, RESTORE restores the old map). Functional keys take
        effect immediately: ``delta.appendOnly = 'true'`` blocks every
        subsequent row-removing commit, ``delta.autoOptimize.
        autoCompact`` toggles post-commit bin-packing."""
        prev = dict(self.properties)
        self.properties.update({k: str(v) for k, v in props.items()})
        self._apply_functional_properties()
        if self.current_version() >= 0:
            try:
                return self._commit_metadata_only(op="SET TBLPROPERTIES")
            except BaseException:
                self.properties = prev
                self._apply_functional_properties()
                raise
        return self.current_version()

    def unset_properties(
        self, keys: Sequence[str], if_exists: bool = True
    ) -> int:
        """``ALTER TABLE … UNSET TBLPROPERTIES [IF EXISTS] (k, …)``."""
        missing = [k for k in keys if k not in self.properties]
        if missing and not if_exists:
            raise ValueError(
                f"table {self.name}: no such propert"
                f"{'y' if len(missing) == 1 else 'ies'} {missing}"
            )
        prev = dict(self.properties)
        for k in keys:
            self.properties.pop(k, None)
        self._apply_functional_properties()
        if self.current_version() >= 0:
            try:
                return self._commit_metadata_only(op="UNSET TBLPROPERTIES")
            except BaseException:
                self.properties = prev
                self._apply_functional_properties()
                raise
        return self.current_version()

    def _apply_functional_properties(self) -> None:
        """Re-derive behavior flags from the current property map (the
        interpreted subset — everything else is carried verbatim)."""
        ac = self.properties.get("delta.autoOptimize.autoCompact", "")
        if ac.lower() in ("true", "auto"):
            self.auto_compact = True
        elif ac.lower() == "false":
            self.auto_compact = False

    def _dv_writes_enabled(self) -> bool:
        """Delta ``delta.enableDeletionVectors = 'true'``: DML prefers
        the merge-on-read path — SQL MERGE routes through
        ``merge_clauses(deletion_vectors=True)`` (O(changed rows)
        written, untouched files carried). Identity-column tables ride
        it too (round 14): inserts mint against the high watermark and
        the claim commits atomically with the DV transaction. Reads
        the CURRENT manifest's map like :meth:`_check_append_only`."""
        v = self.current_version()
        props = self._read_properties(v) if v >= 0 else self.properties
        return (
            str(props.get("delta.enableDeletionVectors", "")).lower()
            == "true"
        )

    def _check_append_only(self, op: str) -> None:
        """Delta ``delta.appendOnly = 'true'``: a table declared
        append-only rejects every commit that removes or rewrites
        existing rows (DELETE/UPDATE/MERGE-with-matched-actions/
        overwrite/replaceWhere). Appends, COPY INTO, OPTIMIZE and
        metadata commits stay allowed — compaction preserves logical
        content.

        Reads the CURRENT manifest's map (not this handle's cached
        copy) so a property set through another handle binds
        immediately; the residual set-vs-commit race is the same
        optimistic-concurrency window every writer has."""
        v = self.current_version()
        if v < 0:
            return
        props = self._read_properties(v)
        if props.get("delta.appendOnly", "").lower() == "true":
            raise ValueError(
                f"table {self.name}: {op} is blocked — the table is "
                "append-only (delta.appendOnly = 'true'); unset the "
                "property to mutate existing rows"
            )

    def _read_bloom(self, version: int) -> dict[str, dict]:
        """The bloom-index config committed WITH a version (manifest key
        ``bloom``); pre-bloom manifests return the empty map."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {c: dict(v) for c, v in m.get("bloom", {}).items()}

    def set_bloom_index(
        self,
        column: str,
        fpp: float = _BLOOM_DEFAULT_FPP,
        ndv: int = _BLOOM_DEFAULT_NDV,
    ) -> None:
        """Databricks ``CREATE BLOOMFILTER INDEX … FOR COLUMNS(col
        OPTIONS (fpp=…, numItems=…))``: subsequent writes compute a
        per-FILE bloom bitmap for ``column`` (sidecar parquet under
        ``_bloom/<write id>/``), and ``scan``/``skipping_report`` use it
        to prune files for ``=``/``IN`` literals that min/max bounds
        cannot — the point-lookup index for high-cardinality columns
        (IDs, hashes) whose per-file bounds span the whole key space.
        Like Databricks, the index covers files written AFTER it is set;
        earlier files simply stay un-prunable by bloom (min/max still
        applies). ``ndv`` is the expected distinct count PER FILE.

        The config is a metadata-only COMMIT, versioned like
        constraints: RESTORE brings it back, time travel to a
        pre-index version reads without it, and a racing data write
        loses the version claim and re-reads the config on retry."""
        from pyspark.sql.types import (
            ByteType,
            DateType,
            IntegerType,
            LongType,
            ShortType,
        )
        from pyspark.sql.types import StringType as _Str

        if column in self.partition_columns:
            raise ValueError(
                f"table {self.name}: {column!r} is a partition column — "
                "partition pruning already serves equality on it exactly"
            )
        if self.schema is not None:
            fields = {f.name: f.dataType for f in self.schema.fields}
            if column not in fields:
                raise ValueError(
                    f"table {self.name}: no column {column!r} to index"
                )
            if not isinstance(
                fields[column],
                (ByteType, ShortType, IntegerType, LongType, _Str, DateType),
            ):
                raise ValueError(
                    f"table {self.name}: bloom index needs an integral, "
                    f"string or date column; {column!r} is "
                    f"{fields[column].simpleString()}"
                )
        m, k = _bloom_params(int(ndv), float(fpp))
        phys = self._phys(column)
        prev = self.bloom.get(phys)
        self.bloom[phys] = {
            "fpp": float(fpp), "ndv": int(ndv), "m": m, "k": k,
        }
        if self.current_version() >= 0:
            try:
                self._commit_metadata_only(
                    op=f"ADD BLOOMFILTER INDEX {column}"
                )
            except BaseException:
                if prev is None:
                    self.bloom.pop(phys, None)
                else:
                    self.bloom[phys] = prev
                raise

    def drop_bloom_index(self, column: str) -> None:
        """``DROP BLOOMFILTER INDEX`` for one column: metadata-only
        commit; existing sidecar bitmaps become dead weight a vacuum
        sweeps with their write roots."""
        phys = self._phys(column)
        if phys not in self.bloom:
            return
        dropped = self.bloom.pop(phys)
        if self.current_version() >= 0:
            try:
                self._commit_metadata_only(
                    op=f"DROP BLOOMFILTER INDEX {column}"
                )
            except BaseException:
                self.bloom[phys] = dropped
                raise

    def _read_generated(self, version: int) -> dict[str, dict]:
        """Generated-column specs committed WITH a version (manifest
        key ``generated``); pre-feature manifests return the empty
        map."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {c: dict(v) for c, v in m.get("generated", {}).items()}

    def set_generated_column(
        self, column: str, expr: str, _force: bool = False
    ) -> None:
        """Delta ``col GENERATED ALWAYS AS (expr)``: the column is
        computed from ``expr`` on every ingest when absent, and every
        write that DOES supply it is validated against ``expr`` in the
        same columnar pass as CHECK constraints (a mismatching batch
        aborts, Delta's rule). When ``expr`` is one of the derivable
        monotonic shapes (CAST AS DATE / to_date / date_trunc / year /
        substring-prefix), filters on the SOURCE column automatically
        imply filters on this column — the Delta optimization where
        ``WHERE ts BETWEEN …`` partition-prunes a table partitioned by
        ``d = CAST(ts AS DATE)`` without the query ever naming ``d``.

        Declare-before-create only: a generation expression bolted onto
        existing data could be violated by already-committed rows,
        which would make the derived pruning silently wrong.
        (``_force`` is the CREATE OR REPLACE escape hatch — sound there
        because the same commit replaces every row.)"""
        if self.current_version() >= 0 and not _force:
            raise ValueError(
                f"table {self.name}: generated columns must be declared "
                "before the table is created (existing rows cannot be "
                "proven to satisfy the expression)"
            )
        parsed = _parse_generation_expr(expr)
        spec: dict = {"expr": expr.strip()}
        if parsed is not None:
            fn, arg, src = parsed
            if self.schema is not None:
                names = {f.name for f in self.schema.fields}
                if src not in names:
                    raise ValueError(
                        f"table {self.name}: generation source {src!r} "
                        "not in schema"
                    )
            spec.update({"fn": fn, "arg": arg, "src": src})
        self.generated[column] = spec

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Compute any generated columns the incoming batch omitted
        (Delta computes them on write the same way)."""
        for g, spec in self.generated.items():
            if g not in df.columns:
                df = df.withColumn(g, F.expr(spec["expr"]))
        return df

    def _regen_generated(
        self, df: DataFrame, assigned: Collection[str] = ()
    ) -> DataFrame:
        """RECOMPUTE generated columns against the post-assignment
        values of an UPDATE/MERGE rewrite (Delta recomputes on write;
        round-12 review 5: staging the stale stored value made every
        legal UPDATE touching a generation input abort with a
        misleading CHECK violation). A generated column the statement
        EXPLICITLY assigned is left alone — its CHECK constraint then
        validates the user's value."""
        for g, spec in self.generated.items():
            if g in df.columns and g not in assigned:
                df = df.withColumn(g, F.expr(spec["expr"]))
        return df

    def _read_identity(self, version: int) -> dict[str, dict]:
        """Identity-column specs + high watermarks committed WITH a
        version (manifest key ``identity``)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {c: dict(v) for c, v in m.get("identity", {}).items()}

    def set_identity_column(
        self, column: str, start: int = 1, step: int = 1,
        _force: bool = False,
    ) -> None:
        """Delta ``col BIGINT GENERATED ALWAYS AS IDENTITY (START WITH
        s INCREMENT BY t)``: every ingest that omits the column gets
        fresh, never-reused ids. Assignment is the scalable two-phase
        shape (per-partition counts → driver prefix sum → offset +
        local row number — no global window, no single-partition
        collapse), and the high watermark advances atomically with the
        commit: a writer racing on the same base watermark fails its
        claim and retries with fresh ids, exactly Delta's identity
        conflict rule. Ids are unique and monotonic per commit, NOT
        gap-free across aborted transactions — the same contract every
        transactional identity column has. Declare before creation."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        if self.current_version() >= 0 and not _force:
            raise ValueError(
                f"table {self.name}: identity columns must be declared "
                "before the table is created"
            )
        self.identity[column] = {
            "start": int(start), "step": int(step), "next": int(start),
        }

    def _assign_identity(self, df: DataFrame):
        """(df with identity columns assigned, claim) — claim maps each
        column to ``(base_watermark, rows_consumed)`` and MUST be handed
        to ``_stage_and_commit`` so the bump commits atomically with the
        data (and a stale base is detected)."""
        if not self.identity:
            return df, None
        present = sorted(c for c in self.identity if c in df.columns)
        if present:
            raise ValueError(
                f"table {self.name}: identity column(s) {present} are "
                "GENERATED ALWAYS — the insert must not supply them"
            )
        from pyspark.sql import Window

        pid_df = df.withColumn("__pid", F.spark_partition_id())
        counts = {
            r["__pid"]: r["count"]
            for r in pid_df.groupBy("__pid").count().collect()
        }
        offsets, acc = [], 0
        for pid in sorted(counts):
            offsets.append((pid, acc))
            acc += counts[pid]
        off_df = self.spark.createDataFrame(
            offsets or [(0, 0)], "__pid int, __off long"
        )
        w = Window.partitionBy("__pid").orderBy(
            F.monotonically_increasing_id()
        )
        out = pid_df.withColumn("__rn", F.row_number().over(w) - 1).join(
            F.broadcast(off_df), "__pid", "left"
        )
        claim = {}
        for c, spec in self.identity.items():
            out = out.withColumn(
                c,
                F.lit(int(spec["next"]))
                + F.lit(int(spec["step"]))
                * (F.coalesce(F.col("__off"), F.lit(0)) + F.col("__rn")),
            )
            claim[c] = (int(spec["next"]), acc)
        return out.drop("__pid", "__rn", "__off"), claim

    def _claim_identity_bump(
        self, claim: Mapping[str, tuple[int, int]], base: int
    ) -> None:
        """Validate a minted-id claim against ``base``'s identity
        watermarks and bump them for the manifest about to be written
        (``_write_manifest`` persists ``self.identity``). Raises
        ``ConcurrentWriteError`` when another writer consumed ids since
        the mint — the caller discards its staged files and re-runs to
        mint fresh ids (Delta's identity high-watermark conflict rule).
        Re-run on EVERY commit attempt, including after a blind or
        disjoint rebase: file-disjointness does not prove watermark
        disjointness."""
        if base >= 0:
            self.identity = self._read_identity(base)
        for c, (base_next, used) in claim.items():
            spec = self.identity.get(c)
            if spec is None or int(spec["next"]) != int(base_next):
                raise ConcurrentWriteError(
                    f"table {self.name}: identity column {c!r} "
                    "watermark moved under this transaction; re-run "
                    "the write to mint fresh ids"
                )
            spec["next"] = int(base_next) + int(spec["step"]) * int(used)

    def _read_copy_files(self, version: int) -> dict[str, list]:
        """COPY INTO's loaded-file ledger committed WITH a version
        (manifest key ``copy_files``)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {k: list(v) for k, v in m.get("copy_files", {}).items()}

    def copy_into(
        self,
        source: str,
        file_format: str = "parquet",
        pattern: str | None = None,
        force: bool = False,
        merge_schema: bool = False,
    ) -> dict:
        """Databricks ``COPY INTO``: load the files under ``source``
        that have NOT been loaded before — file-granular exactly-once
        ingestion, the landing-zone primitive. The loaded-file ledger
        commits ATOMICALLY with the appended rows (manifest key
        ``copy_files``), so a crash between load and record is
        impossible and a re-run is a free no-op. Two writers racing to
        copy the same files conflict on the ledger (the loser gets
        ConcurrentWriteError, and its retry re-diffs to a no-op).

        Source files are assumed immutable once written (the Databricks
        contract); ``force=True`` reloads everything matching.
        ``pattern`` is an fnmatch glob on the path relative to
        ``source``. Generated and identity columns compose: an omitted
        generated column is computed, identity ids are minted.
        Returns ``{"version", "files_loaded", "rows_loaded"}``."""
        import fnmatch

        if self.current_version() < 0:
            raise FileNotFoundError(
                f"table {self.name}: COPY INTO requires an existing table"
            )
        ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json"}.get(
            file_format.lower()
        )
        if ext is None:
            raise ValueError(f"unsupported FILEFORMAT {file_format!r}")
        src_root = os.path.abspath(source)
        candidates: list[str] = []
        for dirpath, _dirs, fns in os.walk(src_root):
            for fn in sorted(fns):
                if not fn.endswith(ext) or fn.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, src_root)
                if pattern and not fnmatch.fnmatch(rel, pattern):
                    continue
                candidates.append(full)
        return self.copy_into_files(
            candidates,
            file_format=file_format,
            force=force,
            merge_schema=merge_schema,
        )

    def copy_into_files(
        self,
        candidates: Sequence[str],
        file_format: str = "parquet",
        force: bool = False,
        merge_schema: bool = False,
    ) -> dict:
        """The file-list core of :meth:`copy_into` — load exactly the
        given source files that the ledger has not recorded yet, with
        the load and the ledger entries in ONE atomic commit. This is
        the sink half of the Auto-Loader composition
        (:mod:`streaming.autoloader`): the discovery stream hands each
        micro-batch's file paths here, and exactly-once holds under
        ANY re-delivery (checkpoint loss, overlapping streams, a
        concurrent batch COPY INTO) because the ledger — not the
        stream's checkpoint — is the record of truth."""
        if file_format.lower() not in ("parquet", "csv", "json"):
            raise ValueError(f"unsupported FILEFORMAT {file_format!r}")
        if self.current_version() < 0:
            raise FileNotFoundError(
                f"table {self.name}: COPY INTO requires an existing table"
            )
        # diff against the COMMITTED ledger, not the in-memory attr: a
        # previous attempt that merged its adds into self.copy_files
        # and then lost the version race would otherwise poison the
        # retry's diff — the never-committed files would look loaded
        # and the batch would silently no-op (round-12 review 4).
        # Reading the manifest also heals the handle.
        ledger = self.copy_files = self._read_copy_files(
            self.current_version()
        )
        todo = [
            f for f in candidates if force or f not in ledger
        ]
        if not todo:
            return {
                "version": self.current_version(),
                "files_loaded": 0,
                "rows_loaded": 0,
            }
        fmt = file_format.lower()
        reader = self.spark.read
        if fmt == "csv":
            reader = reader.option("header", "true").option(
                "inferSchema", "true"
            )
        df = reader.format(fmt).load(todo)
        prev_schema = self.schema
        if merge_schema:
            # Databricks COPY_OPTIONS mergeSchema: new source columns
            # APPEND to the table schema (old rows null-fill), missing
            # table columns null-fill in this batch, same-named columns
            # cast — all via the shared evolution used by the merges
            df, evolved = self._evolve_schema(df)
            self.schema = evolved
        else:
            # source types follow the TABLE schema (CSV/JSON inference
            # may produce int-vs-long / string-vs-date drift; Databricks
            # COPY INTO casts the same way) — applied BEFORE generated/
            # identity so generation expressions see table-typed inputs
            typed = {
                f.name: f.dataType for f in self.schema.fields
            }
            df = df.select(
                *[
                    F.col(c).cast(typed[c]).alias(c)
                    if c in typed
                    else F.col(c)
                    for c in df.columns
                ]
            )
        df = self._apply_generated(df)
        df, id_claim = self._assign_identity(df)
        cols = [f.name for f in self.schema.fields]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            self.schema = prev_schema
            raise ValueError(
                f"COPY INTO {self.name}: source lacks column(s) {missing}"
            )
        rows = df.count()
        adds = {}
        for f in todo:
            st = os.stat(f)
            adds[f] = [st.st_size, st.st_mtime_ns]
        try:
            v = self._stage_and_commit(
                df.select(*cols),
                replace_all=False,
                append_only=True,
                op="COPY INTO",
                identity_claim=id_claim,
                copy_files_add=adds,
                copy_files_guard=[f for f in todo if f not in ledger],
            )
        except BaseException:
            self.schema = prev_schema  # evolution binds only on commit
            raise
        return {"version": v, "files_loaded": len(todo), "rows_loaded": rows}

    def _read_renames(self, version: int) -> dict[str, str]:
        """The column-mapping set committed WITH a version (manifest
        key ``renames``); manifests written before column mapping
        existed return the identity (empty) map."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return dict(m.get("renames", {}))

    def _phys(self, col: str) -> str:
        """Physical (parquet/stats/DV) name of a logical column."""
        return self.renames.get(col, col)

    def _physical_schema(self) -> StructType:
        """The schema as stored in data files (logical fields renamed
        to their physical names)."""
        if not self.renames:
            return self.schema
        return StructType(
            [
                StructField(self._phys(f.name), f.dataType, f.nullable)
                for f in self.schema.fields
            ]
        )

    def _logical_select(self) -> list[Column]:
        """Projection that renames a physical-schema scan back to
        logical names (a no-op select when no mapping is active)."""
        return [
            F.col(self._phys(f.name)).alias(f.name)
            for f in self.schema.fields
        ]

    def _ansi_coerce(self, df: DataFrame) -> DataFrame:
        """Staged files must carry the DECLARED column types: the scan
        applies the table schema to the parquet bytes, so a frame
        staged with a drifted type (decimal(2,1) into a double
        column, int into long) would be reinterpreted — e.g. the
        decimal's unscaled 50 read back as 50.0 (found via the
        round-10 INSERT OVERWRITE PARTITION repro). Delta casts on
        write under storeAssignmentPolicy=ANSI — an overflowing or
        malformed value FAILS the write rather than silently
        nulling/wrapping (ADVICE r10): try_cast + a raise when a
        non-NULL input became NULL, all inside one codegen'd pass.
        Shared by _stage_and_commit and the DV append staging (round
        13 review: the merge-on-read path skipped it)."""
        if self.schema is None:
            return df
        # nullability of nested fields is not type drift: a frame whose
        # array<struct> elements are nullable where the declared schema
        # says NOT NULL carries the same bytes, and Spark refuses a
        # cast TO a non-null inner field — compare and cast modulo
        # nullability (round 15: the SCD2 phantom-replay union made
        # __EVENTS inner fields nullable and the strict compare sent
        # it into an impossible try_cast)
        want = {
            f.name: _relax_nullability(f.dataType)
            for f in self.schema.fields
        }
        if not any(
            c in want and _relax_nullability(df.schema[c].dataType) != want[c]
            for c in df.columns
        ):
            return df

        def _ansi_cast(c):
            tried = F.col(c).try_cast(want[c])
            return F.when(
                F.col(c).isNotNull() & tried.isNull(),
                F.assert_true(
                    F.lit(False),
                    F.concat(
                        F.lit(
                            f"table {self.name}: value "
                            f"overflows/fails ANSI cast of "
                            f"column {c!r} to "
                            f"{want[c].simpleString()}: "
                        ),
                        F.col(c).cast("string"),
                    ),
                ).cast(want[c]),
            ).otherwise(tried).alias(c)

        return df.select(
            *[
                _ansi_cast(c)
                if c in want
                and _relax_nullability(df.schema[c].dataType) != want[c]
                else F.col(c)
                for c in df.columns
            ]
        )

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Rename a logical-named DataFrame to physical names before it
        is written (identity when no mapping is active)."""
        if not self.renames:
            return df
        return df.select(
            [F.col(c).alias(self.renames.get(c, c)) for c in df.columns]
        )

    def _phys_triples(self, filters: Sequence[tuple]) -> list[tuple]:
        """Filter triples with logical column names mapped to physical
        — footer stats are keyed in physical space."""
        if not self.renames:
            return list(filters)
        return [(self._phys(t[0]), *t[1:]) for t in filters]

    def _enforce_constraints(self, write_dir: str) -> None:
        """Validate a staged write against all CHECK constraints in ONE
        columnar pass over the staged files (footer-pruned scan of just
        this batch, never the table); raise before the commit if any
        row violates — the transaction aborts with no version written,
        exactly Delta's write-time enforcement. Generated columns are
        validated in the SAME pass: a batch that supplied its own value
        for a generated column must match the expression row-for-row
        (``<=>`` so null source rows pass against null generated
        values), or the transaction aborts — Delta's rule, and the
        invariant the derived-filter pruning relies on."""
        checks = dict(self.constraints)
        for g, spec in self.generated.items():
            checks[f"generated column {g}"] = f"`{g}` <=> ({spec['expr']})"
        if not checks:
            return
        has_files = any(
            fn.endswith(".parquet")
            for _d, _s, fns in os.walk(write_dir)
            for fn in fns
        )
        if not has_files:
            return  # empty write: no rows, nothing to violate (and an
            # empty dir has no schema to infer)
        staged = self.spark.read.parquet(write_dir)
        if self.renames:
            # staged files carry PHYSICAL names; constraint expressions
            # reference logical ones
            staged = staged.select(self._logical_select())
        names = sorted(checks)
        flags = [
            F.sum(
                (~F.coalesce(F.expr(checks[n]), F.lit(True)))
                .cast("long")
            ).alias(n)
            for n in names
        ]
        counts = staged.agg(*flags).collect()[0].asDict()
        bad = {n: c for n, c in counts.items() if c}
        if bad:
            shutil.rmtree(write_dir, ignore_errors=True)
            detail = ", ".join(
                f"{n!r} ({checks[n]}): {c} rows" for n, c in bad.items()
            )
            raise ValueError(
                f"table {self.name}: write violates CHECK constraint(s) "
                f"{detail}; transaction aborted, no version committed"
            )

    def _read_manifest(self, version: int) -> dict[str, str]:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"table {self.name}: manifest for version {version} missing "
                "(vacuumed or never written)"
            )
        return dict(_load_manifest_json(path)["entries"])

    def _committed_partition_columns(self, version: int) -> list[str] | None:
        """Partition columns of the data committed at ``version``, read
        from its manifest: an entry's base key lists the partition
        values, and the last that many ``col=value`` dirs of its rel
        name the columns. None when the version holds no entries or its
        manifest is gone."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return None
        for k, rel in _load_manifest_json(path)["entries"].items():
            n = len(json.loads(_base_key(k)))
            d = os.path.dirname(rel) if _rel_is_file(rel) else rel
            segs = d.rstrip("/").split("/")[-n:] if n else []
            return [unquote(seg.split("=", 1)[0]) for seg in segs]
        return None

    def _check_partition_layout(self, version: int) -> None:
        """Refuse a write whose handle partitions differently from the
        data committed at ``version``. Its staged entry keys never match
        the committed ones: a scoped write carries every committed entry
        over beside the rows it rewrote, and a whole-table MERGE by an
        unpartitioned handle re-lays the table out so that the next
        partitioned write duplicates every row. Only CREATE OR REPLACE
        (a new table definition) may change the layout."""
        committed = self._committed_partition_columns(version)
        if committed is not None and committed != self.partition_columns:
            raise ValueError(
                f"table {self.name}: handle partition_columns "
                f"{self.partition_columns} != committed layout {committed}; "
                "open the table without partition_columns to adopt it"
            )

    def _read_txn(self, version: int) -> dict[str, int]:
        """Writer-transaction watermarks of a manifest (Delta txnAppId
        analogue): ``{app_id: last applied epoch/batch id}``, recorded
        ATOMICALLY with the commit that applied the batch — the basis
        for exactly-once ADDITIVE sinks, where replaying a batch would
        double-apply (an anti-join merge is self-idempotent; a running
        aggregate is not)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        return dict(_load_manifest_json(path).get("txn", {}))

    def last_txn(self, app_id: str) -> int:
        """Highest batch/epoch id ``app_id`` has committed into the
        CURRENT version, -1 if none — compare before applying a batch:
        ``if table.last_txn(app) >= batch_id: skip``."""
        v = self.current_version()
        if v < 0:
            return -1
        return int(self._read_txn(v).get(app_id, -1))

    def _read_stats(self, version: int) -> dict[str, dict]:
        """Per-file column stats of a manifest (``{rel_file: {"rows": n,
        "cols": {col: [min, max, null_count]}}}``). Manifests written
        before stats existed return ``{}`` — every file then reads as
        un-prunable, never wrongly skipped."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"table {self.name}: manifest for version {version} missing"
            )
        # shallow copy, like _read_manifest/_read_txn: a caller's
        # .update() must not poison the shared manifest cache
        return dict(_load_manifest_json(path).get("stats", {}))

    def _read_data_change(self, version: int) -> bool:
        """Delta's per-commit dataChange flag: False for content-
        neutral maintenance rewrites (OPTIMIZE/ZORDER/CLUSTER/REORG) —
        CDF readers skip those version pairs outright. Pre-flag
        manifests default True (never wrongly skipped)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return True
        return bool(_load_manifest_json(path).get("dataChange", True))

    def _read_cdf_staged(self, version: int) -> dict[str, str] | None:
        """Rel dirs of a commit's write-side staged change files
        (``{"insert": rel, "delete": rel}``), or None when the commit
        staged none (CDF readers then fall back to deriving the
        diff)."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return None
        c = _load_manifest_json(path).get("cdf")
        return dict(c) if c else None

    def _row_tracking_enabled(self) -> bool:
        """``delta.enableRowTracking`` TBLPROPERTY: every row gets a
        durable id — fresh rows draw from a monotone watermark (the
        manifest maps each data file to a base id; id = base + file
        position), and maintenance rewrites (OPTIMIZE / CLUSTER /
        compact) MATERIALIZE the ids into the rewritten files so they
        survive the move (Delta row-tracking's backfill). Data rewrites
        PRESERVE ids too (round 12): CoW UPDATE/DELETE, DV update,
        MERGE rewrites and replaceWhere all materialize survivors' ids
        into the rewritten files — matched keys inherit the target
        row's id, fresh rows mint base + position — matching Delta,
        which preserves ids through DML by materializing in every
        writer (see :meth:`_carried_row_base`)."""
        return (
            str(self.properties.get("delta.enableRowTracking", ""))
            .lower()
            == "true"
        )

    def _read_row_base(
        self, version: int
    ) -> tuple[dict[str, int], list[str], int]:
        """``(file → base row id, files with MATERIALIZED ids, high
        watermark)`` of a manifest."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}, [], 0
        m = _load_manifest_json(path)
        return (
            dict(m.get("row_base") or {}),
            list(m.get("row_mat") or []),
            int(m.get("row_high") or 0),
        )

    def _read_row_ver(self, version: int) -> dict[str, int]:
        """file → last-modified commit version (row tracking's
        row_commit_version field) of a manifest."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}
        m = _load_manifest_json(path)
        return {k: int(v) for k, v in (m.get("row_ver") or {}).items()}

    def _carried_row_base(
        self,
        base: int,
        stats: Mapping[str, dict],
        materialized: Collection[str] = (),
        mint_materialized: bool = False,
    ) -> tuple[dict[str, int], list[str], int, dict[str, int]]:
        """Row-tracking metadata for a commit whose file universe is
        ``stats``' keys, built on ``base``: surviving files keep their
        base ids (or their materialized-marker), ``materialized`` files
        carry their ids IN-DATA (maintenance and DML rewrites), and
        every other file — fresh writes AND pre-tracking files being
        backfilled — mints from the monotone watermark using its stats
        row count. With ``mint_materialized`` the ``materialized``
        files get a base id TOO: a DML rewrite's output preserves
        surviving rows' ids in-data but may interleave fresh rows
        (merge inserts) whose ``__row_id`` is NULL — those resolve to
        base + position (the read-side coalesce in
        ``_attach_row_ids``), never colliding because the base starts
        at the high watermark. When tracking is off the maps are empty
        but the watermark still carries (re-enabling never re-mints old
        ids)."""
        prev_rb, prev_mat, high = (
            self._read_row_base(base) if base >= 0 else ({}, [], 0)
        )
        if not self._row_tracking_enabled():
            return {}, [], high, {}
        out = {f: b for f, b in prev_rb.items() if f in stats}
        mat = {f for f in prev_mat if f in stats} | set(materialized)
        need_base = set(stats) - set(out) - mat
        if mint_materialized:
            need_base |= set(materialized) - set(out)
        for f in sorted(need_base):
            out[f] = high
            high += int(stats.get(f, {}).get("rows", 0))
        # row_commit_version: carried files keep their last-modified
        # version; fresh staged files — and pre-tracking files being
        # backfilled — take the COMMITTING version (base + 1, the
        # version this assembly claims). Rewrites that carry per-row
        # versions in-data (__row_ver) leave unmodified rows' values
        # intact; their NULL rows (fresh/modified) resolve to this
        # file-level fallback.
        prev_ver = self._read_row_ver(base) if base >= 0 else {}
        v_commit = base + 1
        ver = {f: prev_ver.get(f, v_commit) for f in stats}
        return out, sorted(mat), high, ver

    def _cdf_enabled(self) -> bool:
        """``delta.enableChangeDataFeed`` TBLPROPERTY (Delta's write-
        side CDC flag): rewrite commits additionally stage their exact
        row-level diff so change-feed readers never re-derive it."""
        return (
            str(self.properties.get("delta.enableChangeDataFeed", ""))
            .lower()
            == "true"
        )

    def _read_dv(self, version: int) -> tuple[dict[str, str], dict[str, int]]:
        """Deletion-vector metadata of a manifest: ``(dv, dv_n)`` where
        ``dv`` maps a data file to the dv parquet dir holding its
        deleted row positions and ``dv_n`` to the deleted-row count
        (the Delta numDeletedRecords analogue the metadata-only COUNT
        uses). Pre-DV manifests → empty maps."""
        path = self._manifest_path(version)
        if not os.path.exists(path):
            return {}, {}
        m = _load_manifest_json(path)
        return dict(m.get("dv", {})), {
            k: int(v) for k, v in m.get("dv_n", {}).items()
        }

    def _write_manifest(
        self,
        version: int,
        entries: Mapping[str, str],
        stats: Mapping[str, dict] | None = None,
        txn: Mapping[str, int] | None = None,
        op: str = "WRITE",
        constraints: Mapping[str, str] | None = None,
        dv: Mapping[str, str] | None = None,
        dv_n: Mapping[str, int] | None = None,
        cdf: Mapping[str, str] | None = None,
        row_base: Mapping[str, int] | None = None,
        row_mat: Collection[str] = (),
        row_high: int = 0,
        row_ver: Mapping[str, int] | None = None,
        blind: bool = False,
    ) -> None:
        os.makedirs(self.location, exist_ok=True)
        final = self._manifest_path(version)
        # pid + uuid: two THREADS of one process racing the same
        # version must not share a tmp file either
        tmp = final + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        # in-commit timestamp (Delta ICT): the commit time travels IN
        # the manifest so TIMESTAMP AS OF / history / CDF attribution
        # survive file copies and restores that disturb mtimes;
        # clamped monotone against the previous commit (clock skew
        # between writers must not reorder time travel)
        commit_ts = time.time()
        if version > 0:
            prev_path = self._manifest_path(version - 1)
            if os.path.exists(prev_path):
                prev_ts = _load_manifest_json(prev_path).get("ts")
                if prev_ts is not None:
                    commit_ts = max(commit_ts, float(prev_ts) + 1e-3)
        with open(tmp, "w") as f:
            f.write(
                json.dumps(
                    {
                        "ts": commit_ts,
                        "entries": dict(entries),
                        "stats": dict(stats or {}),
                        "txn": dict(txn or {}),
                        "op": op,
                        # constraint set is part of the committed
                        # version (Delta keeps it in table metadata):
                        # versions, restores, and race-detects with data
                        "constraints": dict(
                            self.constraints if constraints is None else constraints
                        ),
                        # column mapping travels with every version
                        # (Delta keeps it in the log's table metadata)
                        "renames": dict(self.renames),
                        # bloom index config is table metadata too
                        "bloom": {
                            c: dict(v) for c, v in self.bloom.items()
                        },
                        # generated-column specs are creation-fixed
                        # metadata, repeated in every manifest
                        "generated": {
                            c: dict(v) for c, v in self.generated.items()
                        },
                        # identity high watermarks travel with every
                        # version (bumped only by consuming commits)
                        "identity": {
                            c: dict(v) for c, v in self.identity.items()
                        },
                        # COPY INTO's loaded-file ledger rides the same
                        # commit as the rows it loaded (exactly-once)
                        "copy_files": {
                            k: list(v) for k, v in self.copy_files.items()
                        },
                        # merge-on-read deletes: file -> dv dir + count
                        "dv": dict(dv or {}),
                        "dv_n": dict(dv_n or {}),
                        # Delta's dataChange flag: OPTIMIZE/ZORDER/
                        # CLUSTER/REORG rewrite bytes but not content —
                        # CDF readers skip these commits entirely
                        # instead of proving an empty diff the hard way
                        "dataChange": not str(op).startswith(
                            ("OPTIMIZE", "REORG")
                        ),
                        # blind-append marker (file-level conflict
                        # detection): True only when the committing
                        # transaction read NOTHING — a later racer may
                        # then serialize before it regardless of its
                        # own read predicate
                        "blind": bool(blind),
                        # write-side CDC (delta.enableChangeDataFeed):
                        # rel dirs of this commit's staged change files
                        "cdf": dict(cdf) if cdf else None,
                        # row tracking: file → base row id (files with
                        # MATERIALIZED __row_id columns are absent — the
                        # ids live in their data), plus the monotone
                        # high watermark fresh rows mint from
                        "row_base": dict(row_base or {}),
                        "row_mat": sorted(row_mat),
                        "row_high": int(row_high),
                        # row tracking's second field (Delta
                        # row_commit_version): file → the commit that
                        # last modified its rows; rewrites carry
                        # per-row values IN-DATA (__row_ver), NULL
                        # rows fall back to this file-level version
                        "row_ver": dict(row_ver or {}),
                        # TBLPROPERTIES travel with every version
                        "properties": dict(self.properties),
                        # the schema travels too (Delta keeps it in the
                        # log): RESTORE across a schema change — incl.
                        # CREATE OR REPLACE — re-adopts the old shape
                        "schema": (
                            self.schema.jsonValue() if self.schema else None
                        ),
                        # column DEFAULT expressions, same lifecycle
                        "defaults": dict(self.defaults),
                        # clustering keys + which entry dirs are already
                        # clustered (pruned to dirs this version holds)
                        "cluster_by": list(self.cluster_by),
                        "clustered": sorted(
                            set(self.clustered_rels) & set(entries.values())
                        ),
                    },
                    sort_keys=True,
                )
            )
        # atomic claim: hard-link fails iff another writer already owns
        # this version number — optimistic concurrency, the same
        # first-writer-wins rule as Delta's log (its conditional PUT /
        # O_EXCL log-entry create). The loser's staged data is dead
        # weight a vacuum sweeps; nothing it wrote is ever visible.
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"table {self.name}: version {version} was committed by "
                "another writer; re-run the merge against the new current "
                "version"
            ) from None
        finally:
            os.unlink(tmp)

    def _rebind_for_append_rebase(
        self,
        base: int,
        txn: tuple[str, int] | None,
        copy_files_add: Mapping[str, list] | None,
        copy_files_guard: Sequence[str],
    ) -> bool:
        """Re-bind this handle's metadata to ``base`` (the racing
        winner's version) so a BLIND APPEND can retry at ``base + 1``
        (Delta's append-never-conflicts rule). Returns False — keep
        first-writer-wins and raise — when the winner's commit is a
        true conflict for even a blind append: schema or column-mapping
        changed (our staged files carry the old physical layout),
        constraint set changed (our rows were validated against the old
        set), the winner advanced our streaming txn watermark (replayed
        batch), or the winner COPY'd one of our guarded source files.
        Everything else (properties, identity watermarks, clustering,
        the copy ledger) is carried forward from the winner."""
        man_path = self._manifest_path(base)
        if not os.path.exists(man_path):
            return False
        w_schema = _load_manifest_json(man_path).get("schema")
        if (
            w_schema is not None
            and self.schema is not None
            and StructType.fromJson(w_schema) != self.schema
        ):
            return False
        if self._read_renames(base) != self.renames:
            return False
        if self._read_constraints(base) != self.constraints:
            return False
        if txn is not None:
            prev = self._read_txn(base).get(txn[0])
            if prev is not None and int(prev) >= int(txn[1]):
                return False
        # every refusal condition is validated against LOCALS before any
        # self.* assignment (ADVICE r11): a False return must leave the
        # handle exactly as it was, so a caller that catches the raised
        # ConcurrentWriteError and retries on the same handle never sees
        # mixed-version metadata (winner's copy ledger + old constraints)
        new_copy = self._read_copy_files(base)
        if copy_files_add:
            if set(copy_files_guard) & set(new_copy):
                return False  # caller must re-diff the landing zone
            new_copy = {**new_copy, **dict(copy_files_add)}
        self.copy_files = new_copy
        self.bloom = self._read_bloom(base)
        self.generated = self._read_generated(base)
        self.identity = self._read_identity(base)
        self.properties = self._read_properties(base)
        self._apply_functional_properties()
        self.defaults = self._read_defaults(base)
        self.cluster_by = self._read_cluster_by(base)
        self.clustered_rels = self._read_clustered(base)
        return True

    def _commit_delta_keys(self, version: int) -> set[str]:
        """The set of BASE entry keys a committed version touched,
        relative to its parent: entries added / replaced / removed,
        plus the entries whose files gained or lost deletion-vector
        state. This is the write half of Delta's logical conflict
        detection — derived by diffing two manifests (O(entries)
        metadata, no data I/O), so no extra bookkeeping has to ride
        the commit to make later losers able to check overlap."""
        prev_man = self._read_manifest(version - 1) if version > 0 else {}
        cur_man = self._read_manifest(version)
        delta: set[str] = set()
        for k in set(prev_man) | set(cur_man):
            if prev_man.get(k) != cur_man.get(k):
                delta.add(_base_key(k))
        prev_dv, _ = self._read_dv(version - 1) if version > 0 else ({}, {})
        cur_dv, _ = self._read_dv(version)
        if prev_dv != cur_dv:
            rel_to_key = {rel: _base_key(k) for k, rel in prev_man.items()}
            rel_to_key.update(
                {rel: _base_key(k) for k, rel in cur_man.items()}
            )
            for f in set(prev_dv) | set(cur_dv):
                if prev_dv.get(f) != cur_dv.get(f):
                    d = os.path.dirname(f)
                    # a file carried as its own entry attributes to the
                    # carry entry's base key, not its (retired) dir
                    delta.add(rel_to_key.get(f, rel_to_key.get(d, d)))
        return delta

    def _commit_delta_files(
        self, version: int
    ) -> tuple[dict[str, dict], set[str], bool]:
        """FILE-level write set of a committed version, relative to its
        parent: ``(added_stats, removed_or_dv_changed, blind)`` where
        ``added_stats`` maps each newly-referenced data file to its
        footer stats (for read-predicate overlap checks),
        ``removed_or_dv_changed`` is the files the commit retired or
        whose deletion-vector state it touched, and ``blind`` is True
        when the commit was a blind append (self-declared at commit
        time and verified adds-only). This is Delta ConflictChecker's
        AddFile /
        RemoveFile comparison — the granularity that lets concurrent
        DML on UNPARTITIONED tables land in parallel when their file
        sets are disjoint. O(entries) metadata diff, no data I/O."""
        prev_stats = self._read_stats(version - 1) if version > 0 else {}
        cur_stats = self._read_stats(version)
        added = {f: s for f, s in cur_stats.items() if f not in prev_stats}
        removed = set(prev_stats) - set(cur_stats)
        prev_dv, _ = self._read_dv(version - 1) if version > 0 else ({}, {})
        cur_dv, _ = self._read_dv(version)
        dv_changed = {
            f
            for f in set(prev_dv) | set(cur_dv)
            if prev_dv.get(f) != cur_dv.get(f)
        }
        # blindness is SELF-DECLARED at commit time (manifest "blind"
        # flag) and structurally verified: an adds-only diff alone
        # can't distinguish a true blind append from a MERGE
        # insert-only, which READ the target (its key-absence decision
        # could be invalidated by a concurrent delete, so it must not
        # be exempt from the read-predicate check). Old manifests lack
        # the flag → conservatively non-blind.
        blind = (
            not removed
            and not dv_changed
            and bool(
                _load_manifest_json(self._manifest_path(version)).get(
                    "blind", False
                )
            )
        )
        return added, removed | dv_changed, blind

    def _dv_rebase_conflicts(
        self,
        version: int,
        touched_files: Collection[str],
        read_dnf: Sequence[Sequence[tuple]] | None,
    ) -> bool:
        """Does committed ``version`` conflict with a merge-on-read DML
        transaction that marks/rewrites exactly ``touched_files`` and
        whose read predicate is ``read_dnf``? Delta's file-level rules
        under write-serializable isolation:

        - the winner retired or re-vectored one of our files →
          conflict (ConcurrentDeleteDelete / ConcurrentDeleteRead: our
          positions and DV union were computed against its old state);
        - a NON-blind winner added files that may satisfy our read
          predicate → conflict (ConcurrentAppend: our matched-row scan
          missed them); ``read_dnf=None`` means the predicate is
          unknown, so ANY non-blind add conflicts;
        - a BLIND append never conflicts: the history serializes with
          our DML first, the append second — its rows were never
          candidates (Delta's WriteSerializable default).

        Conservative on missing evidence: a version whose manifest a
        retention vacuum already deleted counts as overlap."""
        try:
            added, removed_dv, blind = self._commit_delta_files(version)
        except FileNotFoundError:
            return True
        if removed_dv & set(touched_files):
            return True
        if added and not blind:
            if read_dnf is None:
                return True
            trips_dnf = [self._phys_triples(list(t)) for t in read_dnf]
            for f, stat in added.items():
                for trips in trips_dnf:
                    if self._file_matches(stat, trips) and not (
                        # above-cap key sets: the stats check could not
                        # disprove overlap (BETWEEN spans the add), but
                        # the key-sketch probe of the file's ACTUAL
                        # values may still prove every one misses our
                        # key set (round 15)
                        self._key_bloom_refutes(f, trips)
                    ):
                        return True
        return False

    def _commit_conflicts(
        self,
        version: int,
        touched_keys: Collection[str],
        touched_dnf: Sequence[Sequence[tuple]] | None,
    ) -> bool:
        """Does committed ``version``'s write set overlap this
        transaction's read/write region? ``touched_keys`` are exact
        base entry keys (the partitions a scoped merge read, replaced,
        or dropped); ``touched_dnf`` is a disjunction of conjunctive
        filter-triple lists evaluated against each delta key's
        partition values (``replace_where``'s read predicate; ``[[]]``
        = "read everything"). Conservative: an undecidable predicate
        match counts as overlap — including a version whose manifest a
        concurrent writer's retention vacuum already deleted (the diff
        can't be computed, so disjointness can't be PROVED; returning
        True routes the caller to the ordinary ConcurrentWriteError
        path instead of escaping with FileNotFoundError and leaking
        its staged files)."""
        try:
            delta = self._commit_delta_keys(version)
        except FileNotFoundError:
            return True
        if not delta:
            return False
        if touched_keys and delta & set(touched_keys):
            return True
        if touched_dnf is not None:
            for k in delta:
                if any(
                    self._base_matches(k, list(trips))
                    for trips in touched_dnf
                ):
                    return True
        return False

    def _rebind_for_disjoint_rebase(
        self,
        winner: int,
        txn: tuple[str, int] | None,
        copy_files_add: Mapping[str, list] | None,
        copy_files_guard: Sequence[str],
        touched_keys: Collection[str],
        touched_dnf: Sequence[Sequence[tuple]] | None,
        touched_files: Collection[str] | None = None,
        file_read_dnf: Sequence[Sequence[tuple]] | None = None,
    ) -> bool:
        """Delta's logical conflict detection for NON-BLIND commits
        (the half ``_rebind_for_append_rebase`` doesn't cover): a
        transaction that replaces, drops, or rewrites entries may
        still rebase onto a racing winner when the winner's write set
        is provably DISJOINT from this transaction's read/write region
        — two MERGEs into different partitions, a partition-scoped
        backfill racing an append elsewhere, ingest racing maintenance
        on other partitions. At 100 TB this is the difference between
        N parallel partitioned writers and serialized ones (Delta's
        ConflictChecker allows exactly this).

        Refuses (first-writer-wins, caller re-runs) when the winner
        changed table metadata our staged files were built under
        (schema, column mapping, constraints, the appendOnly /
        CDF / row-tracking property switches), advanced our streaming
        txn watermark, COPY'd a guarded source file, or touched any
        entry in our region. With ``touched_files`` the region check
        runs at FILE granularity instead (``_dv_rebase_conflicts`` —
        the merge-on-read DML shape, which proves disjointness even on
        UNPARTITIONED tables); ``file_read_dnf`` is that transaction's
        read-predicate DNF. Every refusal is decided on locals; the
        handle mutates only after the function has decided True."""
        man_path = self._manifest_path(winner)
        if not os.path.exists(man_path):
            return False
        w_schema = _load_manifest_json(man_path).get("schema")
        if (
            w_schema is not None
            and self.schema is not None
            and StructType.fromJson(w_schema) != self.schema
        ):
            return False
        if self._read_renames(winner) != self.renames:
            return False
        if self._read_constraints(winner) != self.constraints:
            return False
        w_props = self._read_properties(winner)
        for p in (
            "delta.appendOnly",
            "delta.enableChangeDataFeed",
            "delta.enableRowTracking",
        ):
            if (
                str(w_props.get(p, "")).lower()
                != str(self.properties.get(p, "")).lower()
            ):
                return False  # write semantics flipped mid-flight
        if txn is not None:
            prev = self._read_txn(winner).get(txn[0])
            if prev is not None and int(prev) >= int(txn[1]):
                return False
        new_copy = self._read_copy_files(winner)
        if copy_files_add:
            if set(copy_files_guard) & set(new_copy):
                return False
            new_copy = {**new_copy, **dict(copy_files_add)}
        if touched_files is not None:
            # FILE-granular region (merge-on-read DML — works on
            # unpartitioned tables, where every entry shares one base
            # key and the entry-level check could never prove
            # disjointness)
            if self._dv_rebase_conflicts(
                winner, touched_files, file_read_dnf
            ):
                return False
        elif self._commit_conflicts(winner, touched_keys, touched_dnf):
            return False
        self.copy_files = new_copy
        self.bloom = self._read_bloom(winner)
        self.generated = self._read_generated(winner)
        self.identity = self._read_identity(winner)
        self.properties = w_props
        self._apply_functional_properties()
        self.defaults = self._read_defaults(winner)
        self.cluster_by = self._read_cluster_by(winner)
        self.clustered_rels = self._read_clustered(winner)
        return True

    # ------------------------------------------------------------------ DDL
    def create_if_not_exists(
        self, schema: StructType | None = None
    ) -> "ManagedTable":
        """S4: declare the table (schema + partitioning + location)."""
        if self.exists():
            return self
        schema = schema or self.schema
        if schema is None:
            raise ValueError(f"table {self.name}: no schema to create from")
        self.schema = schema
        self._save_schema()
        self._write_manifest(0, {})
        self._commit(0)
        return self

    # ------------------------------------------------------------------ I/O
    def _file_key(self) -> Column:
        """Map ``_metadata.file_path`` (a URI) to the key DV rows use:
        location-relative for own files, absolute for clone-referenced
        source files — the same key space as manifest stats.

        The URI is percent-ENCODED (space → %20, hive-escaped %XX →
        %25XX), while manifest/stats keys are raw ``os.path.relpath``
        bytes; without decoding, any path with a URI-escapable char
        keys its DV in a different space and the carry-over filter in
        ``_stage_and_commit`` silently drops it on the next commit —
        deleted rows resurrect (ADVICE r07). ``url_decode`` is
        form-decoding (literal ``+`` would become a space), so ``+`` is
        re-escaped first; a file URI never contains a raw form-``+``."""
        raw = F.regexp_replace(F.col("__mt_path"), "^[a-z]+:/+", "/")
        abs_p = F.url_decode(F.regexp_replace(raw, r"\+", "%2B"))
        loc = os.path.abspath(self.location)
        return F.when(
            abs_p.startswith(loc + os.sep),
            abs_p.substr(F.lit(len(loc) + 2), F.lit(2147483647)),
        ).otherwise(abs_p)

    def _dv_rows(self, dv: Mapping[str, str]) -> DataFrame:
        """(file, pos) rows of every dv dir a snapshot references —
        O(deleted rows), the merge-on-read side of the table."""
        from pyspark.sql.types import LongType, StringType, StructField

        schema = StructType(
            [StructField("file", StringType()), StructField("pos", LongType())]
        )
        paths = sorted(
            {
                d if os.path.isabs(d) else os.path.join(self.location, d)
                for d in dv.values()
            }
        )
        return self.spark.read.schema(schema).parquet(*paths)

    def _scan_rels(
        self, rels, need_meta: bool, with_row_col: bool = False
    ) -> DataFrame:
        """Scan a set of manifest entry dirs with partition-column
        recovery, grouped by write root (basePath-relative dir names
        work per group; one scan per write root, unioned — untouched
        partitions keep their original files, so a manifest typically
        spans few write roots and ``compact()`` collapses them to one).
        With ``need_meta`` the result carries ``__mt_key``/``__mt_pos``
        (the DV key space). With ``with_row_col`` the declared schema
        gains ``__row_id`` and ``__row_ver`` (row tracking's
        materialized id / last-modified-version columns — NULL for
        files that never materialized them; the attach step falls back
        to base + position / the file-level commit version)."""
        sel = self._logical_select()
        if with_row_col:
            sel = [*sel, F.col("__row_id"), F.col("__row_ver")]
        groups: dict[str, list[str]] = {}
        for rel in set(rels):
            groups.setdefault(_write_root(rel), []).append(rel)
        scans = []
        for wroot, group in sorted(groups.items()):
            read_schema = self._physical_schema()
            if with_row_col:
                read_schema = StructType(
                    [*read_schema.fields,
                     StructField("__row_id", LongType(), True),
                     StructField("__row_ver", LongType(), True)]
                )
            reader = self.spark.read.schema(read_schema).option(
                "basePath", os.path.join(self.location, wroot)
            )
            base = reader.parquet(
                *[os.path.join(self.location, r) for r in sorted(group)]
            )
            if need_meta:
                base = base.select(
                    *sel,
                    F.col("_metadata.file_path").alias("__mt_path"),
                    F.col("_metadata.row_index").alias("__mt_pos"),
                )
            else:
                base = base.select(*sel)
            scans.append(base)
        if not scans:
            # empty manifest (fresh table, or every entry dropped):
            # an empty frame with the full declared shape, so DML into
            # an empty table (e.g. a first merge-on-read MERGE that is
            # all inserts) plans like any other
            decl = self.schema or self._load_schema()
            fields = [
                StructField(f.name, f.dataType, True) for f in decl.fields
            ]
            if with_row_col:
                fields += [
                    StructField("__row_id", LongType(), True),
                    StructField("__row_ver", LongType(), True),
                ]
            if need_meta:
                fields += [
                    StructField("__mt_key", StringType(), True),
                    StructField("__mt_pos", LongType(), True),
                ]
            return self.spark.createDataFrame([], StructType(fields))
        df = reduce(DataFrame.unionByName, scans)
        if need_meta:
            # materialize the file key through a single-element explode
            # (a Generate output is a real attribute — round 16): the
            # url-decode + regexp chain in _file_key is referenced ~3×
            # inside its own CASE and again by every join's inferred
            # isnotnull filter on the key; as a plain withColumn,
            # CollapseProject re-inlines the chain per reference (~6
            # evaluations per row on the CDF content-fetch path). Same
            # trick as dedup._with_tokens; A/B on table_cdf at sf0.1:
            # 2.07 → 1.58 s min, rows identical.
            df = df.select(
                *[c for c in df.columns if c != "__mt_path"],
                F.explode(F.array(self._file_key())).alias("__mt_key"),
            )
        return df

    # keys-per-column cap for the exact IN-set read predicate: beyond
    # it the declared predicate becomes BETWEEN bounds + a Bloom
    # sketch of the key set (round 15 — the sketch refutes racing adds
    # whose values provably miss every key, where BETWEEN alone would
    # serialize against any add inside the span). The DNF lives only
    # in driver memory for this transaction's conflict checks — never
    # persisted — so the caps bound driver memory and the per-file
    # check cost, not any on-disk structure.
    _KEY_SET_CAP = 1024
    # bloom sketch sizing: ~16 bits/key (fpr ≈ 0.05% at 8 hashes),
    # capped at 8M bits = 128k driver-held longs (~1 MB); beyond
    # ~500k keys the fpr degrades gracefully toward BETWEEN behavior,
    # never unsoundly
    _KEY_BLOOM_MAX_BITS = 1 << 23
    _KEY_BLOOM_HASHES = 8
    # max distinct values read from a racing ADDED file during a probe
    # (the probe is exceptional-path: it runs only on an actual claim
    # collision, and its I/O is O(racer's added files), never O(table))
    _KEY_PROBE_CAP = 65536

    def _source_key_dnf(
        self, source: DataFrame, keys: Sequence[str]
    ) -> list[list[tuple]] | None:
        """A merge source's key space as a filter-triple conjunction —
        the transaction's declared read predicate over the target.

        Per key column: the exact distinct value set when it has at
        most ``_KEY_SET_CAP`` values (an ``in`` triple — a racing
        writer's added file conflicts only if its [min, max] can hold
        one of OUR keys, so sparse keys scattered across the full
        range stay disjoint from adds between them), else the
        [min, max] BETWEEN *plus* an ``in_bloom`` sketch of the exact
        key set (round 15): the stats check keeps its BETWEEN
        semantics, and ``_dv_rebase_conflicts`` refines a would-be
        conflict by probing the racing add's actual key values against
        the sketch — 10k scattered keys now rebase over a mid-span add
        that BETWEEN would have serialized against. ``[]`` = the read
        set is provably empty (no rows, or an all-NULL key: NULL
        matches nothing under ON ``=``); ``None`` = unknown
        (unorderable key type), every non-blind add conflicts."""
        try:
            bounds = source.agg(
                *[F.min(k).alias(f"__lo_{k}") for k in keys],
                *[F.max(k).alias(f"__hi_{k}") for k in keys],
                *[
                    F.count_distinct(F.col(k)).alias(f"__nd_{k}")
                    for k in keys
                ],
            ).collect()[0]
            small = []
            for k in keys:
                if bounds[f"__lo_{k}"] is None or bounds[f"__hi_{k}"] is None:
                    return []  # empty / all-NULL key: reads nothing
                if 0 < bounds[f"__nd_{k}"] <= self._KEY_SET_CAP:
                    small.append(k)
            key_sets = {}
            if small:
                sets_row = source.agg(
                    *[F.collect_set(k).alias(k) for k in small]
                ).collect()[0]
                for k in small:
                    vals = list(sets_row[k])
                    try:
                        vals.sort()
                    except TypeError:
                        pass  # determinism nicety only
                    key_sets[k] = vals
            trips = []
            for k in keys:
                if k in key_sets:
                    trips.append((k, "in", key_sets[k]))
                else:
                    trips.append(
                        (k, "between", bounds[f"__lo_{k}"],
                         bounds[f"__hi_{k}"])
                    )
                    sketch = self._key_bloom_sketch(
                        source, k, int(bounds[f"__nd_{k}"])
                    )
                    if sketch is not None:
                        trips.append((k, "in_bloom", sketch))
            return [trips]
        except Exception:
            return None

    def _key_bloom_sketch(
        self, source: DataFrame, col: str, nd: int
    ) -> "_KeyBloom | None":
        """Bloom sketch of ``source[col]``'s distinct values via one
        distributed aggregate: k ``pmod(xxhash64(col, lit(i)), m)``
        positions per value, bit-packed into 64-bit words by a
        ``bit_or`` groupBy — the driver collects ≤ m/64 longs, never
        the values. The source value is CAST to the target column's
        declared type first: xxhash64 is type-sensitive (hash(int 5) ≠
        hash(long 5)) and the probe reads the racing file AS the
        declared schema, so both sides hash the same type
        bit-identically. None on failure (caller keeps BETWEEN
        only)."""
        if self.schema is None:
            self.schema = self._load_schema()
        fields = {f.name: f for f in (self.schema.fields if self.schema else [])}
        if col not in fields:
            return None
        m = int(max(1024, min(nd * 16, self._KEY_BLOOM_MAX_BITS)))
        kh = self._KEY_BLOOM_HASHES
        try:
            cv = F.col(col).cast(fields[col].dataType)
            poss = F.array(
                *[
                    F.pmod(F.xxhash64(cv, F.lit(i)), F.lit(m))
                    for i in range(kh)
                ]
            )
            rows = (
                source.where(F.col(col).isNotNull())
                .select(F.explode(poss).alias("p"))
                .select(
                    F.floor(F.col("p") / 64).cast("long").alias("w"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), "
                        "CAST(pmod(p, 64) AS INT))"
                    ).alias("b"),
                )
                .groupBy("w")
                .agg(F.bit_or("b").alias("bits"))
                .collect()
            )
            words = {
                int(r["w"]): int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
                for r in rows
            }
            return _KeyBloom(m, kh, words)
        except Exception:
            return None

    def _key_bloom_refutes(
        self, file_rel: str, trips: Sequence[tuple]
    ) -> bool:
        """Refinement probe for an added file whose stats could not
        disprove overlap: read the file's ACTUAL values of each
        ``in_bloom`` column (distinct, capped, column-pruned — one
        small file of the racer's commit, never the table) and test
        them against the transaction's key sketch. True when some
        sketch column proves NO row of the file carries one of our
        keys — the add is disjoint and the caller may rebase.
        Conservative on any failure, cap overrun, or absent sketch."""
        blooms = [
            (t[0], t[2]) for t in trips if len(t) > 2 and t[1] == "in_bloom"
        ]
        if not blooms:
            return False
        path = (
            file_rel
            if os.path.isabs(file_rel)
            else os.path.join(self.location, file_rel)
        )
        for col, sk in blooms:
            try:
                poss = F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("__v"), F.lit(i)), F.lit(sk.m)
                        )
                        for i in range(sk.k)
                    ]
                )
                rows = (
                    self.spark.read.schema(self._physical_schema())
                    .parquet(path)
                    .where(F.col(col).isNotNull())
                    .select(F.col(col).alias("__v"))
                    .distinct()
                    .limit(self._KEY_PROBE_CAP + 1)
                    .select(poss.alias("__ps"))
                    .collect()
                )
            except Exception:
                continue  # unreadable / column absent: cannot refute
            if len(rows) > self._KEY_PROBE_CAP:
                continue  # too many distincts: cannot refute cheaply
            if not any(sk.has_positions(r["__ps"]) for r in rows):
                return True  # no value can be one of our keys
        return False

    def _cow_meta_read(self, version: int, track: bool) -> DataFrame:
        """Visible rows of ``version`` with their file identity
        (``__mt_key``/``__mt_pos``, DVs applied) — the input of an
        entry-scoped copy-on-write rewrite. With ``track``, rows carry
        their resolved ``__row_id``/``__row_ver`` so the restaged
        survivors materialize them (Delta row tracking's DML rule)."""
        if version < 0:
            raise FileNotFoundError(
                f"table {self.name} does not exist yet"
            )
        if self.schema is None:
            self.schema = self._load_schema()
        df = self._scan_rels(
            self._read_manifest(version).values(),
            need_meta=True,
            with_row_col=track,
        )
        dv_map, _ = self._read_dv(version)
        if dv_map:
            df = df.join(
                self._dv_rows(dv_map).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        if track:
            df = (
                self._attach_row_ids(df, version)
                .withColumnRenamed("_row_id", "__row_id")
                .withColumnRenamed("_row_commit_version", "__row_ver")
            )
        return df

    def _cow_matched_files(
        self, base_df: DataFrame, cond: Column
    ) -> list[str]:
        """The data FILES holding at least one row matching ``cond`` —
        the exact write set of a per-file copy-on-write DML (only these
        files' survivors restage; every other file, including the
        untouched neighbors in the same entry dir, carries through the
        manifest byte-identical). One distinct-agg over the matched
        rows' file keys — O(touched files) driver-side metadata, no row
        data collected."""
        return sorted(
            {
                r["__mt_key"]
                for r in base_df.filter(cond)
                .select("__mt_key")
                .distinct()
                .collect()
            }
        )

    def _cow_widen_ambiguous(
        self, matched_files: Collection[str], version: int
    ) -> list[str]:
        """Expand a per-file CoW write set to WHOLE entries wherever a
        matched file's dir holds a neighbor that cannot become a carry
        entry (a foreign file whose basename contains ``=`` would be
        indistinguishable from a hive partition dir — see
        ``_rel_is_file``): those entries restage in full, the round-14
        entry-scoped behavior. Spark-written part files never trip
        this; only CONVERT/clone-adopted foreign layouts can."""
        man_rels = set(self._read_manifest(version).values())
        stats = self._read_stats(version)
        out = set(matched_files)
        for f in list(matched_files):
            rel = f if f in man_rels else os.path.dirname(f)
            if rel in man_rels and not _rel_is_file(rel):
                under = self._files_under([rel], version, stats=stats)
                if any("=" in os.path.basename(x) for x in under):
                    out |= set(under)
        return sorted(out)

    def _files_under(
        self,
        rels: Collection[str],
        version: int,
        stats: Mapping[str, dict] | None = None,
    ) -> list[str]:
        """Every data file the given manifest rels cover, in the
        DV/stats key space — the full file set of a group of entries.
        A file-granular rel covers itself; a dir rel covers its stats
        keys plus a listdir (belt and braces: a file missing from
        stats — a legacy dir — would under-declare the region and let
        a racer wrongly rebase over it). No data I/O. Callers looping
        over many rels pass the prefetched ``stats`` map once instead
        of paying a full-stats dict copy per rel."""
        rel_set = set(rels)
        files = {f for f in rel_set if _rel_is_file(f)}
        dir_set = rel_set - files
        if stats is None:
            stats = self._read_stats(version)
        files |= {
            f
            for f in stats
            if os.path.dirname(f) in dir_set
        }
        for rel in dir_set:
            d = rel if os.path.isabs(rel) else os.path.join(
                self.location, rel
            )
            try:
                names = os.listdir(d)
            except OSError:
                continue
            for n in names:
                if n.endswith(".parquet"):
                    files.add(os.path.join(rel, n))
        return sorted(files)

    def _read_internal(self, version: int, with_pos: bool = False) -> DataFrame:
        """Snapshot read. With ``with_pos`` the result keeps
        ``__mt_key``/``__mt_pos`` (the DV key space) for the delete
        paths; deletion vectors of the snapshot are ALWAYS applied —
        a DV'd row is invisible to every reader, the Delta
        merge-on-read contract."""
        v = version
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None:
            raise ValueError(f"table {self.name}: no schema available")
        cols = [f.name for f in self.schema.fields]
        entries = self._read_manifest(v)
        dv, _ = self._read_dv(v)
        if not entries:
            df = self.spark.createDataFrame([], self.schema)
            if with_pos:
                df = df.withColumn("__mt_key", F.lit(None).cast("string")) \
                       .withColumn("__mt_pos", F.lit(None).cast("long"))
            return df
        need_meta = with_pos or bool(dv)
        df = self._scan_rels(entries.values(), need_meta)
        if dv:
            # anti-join on (file, position): removes exactly the
            # DV-marked rows; Spark broadcasts the (small) DV relation
            df = df.join(
                self._dv_rows(dv).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        return df if with_pos else df.select(*cols)

    def read(self, version: int | None = None) -> DataFrame:
        v = self.current_version() if version is None else version
        return self._read_internal(v)

    to_df = read  # reference idiom: DeltaTable.forName(...).toDF()

    def _attach_row_ids(self, df: DataFrame, version: int) -> DataFrame:
        """Resolve each row's durable id AND last-modified commit
        version onto a meta-carrying scan (``__mt_key``/``__mt_pos`` +
        raw ``__row_id``/``__row_ver`` present): the materialized
        column wins, else base(file) + position for the id and the
        file-level commit version for the version. The file→(base,
        version) map is manifest metadata (O(files), broadcast)."""
        rb, _mat, _high = self._read_row_base(version)
        rv = self._read_row_ver(version)
        rows = [(f, b, rv.get(f, 0)) for f, b in rb.items()]
        # files absent from row_base (fully materialized) still need
        # their file-level version fallback
        rows += [(f, None, v) for f, v in rv.items() if f not in rb]
        map_df = self.spark.createDataFrame(
            rows or [("", 0, 0)],
            "__rb_file string, __rb_base long, __rb_ver long",
        )
        if not rows:
            map_df = map_df.limit(0)
        df = df.join(
            F.broadcast(map_df),
            df["__mt_key"] == map_df["__rb_file"],
            "left",
        )
        return (
            df.withColumn(
                "_row_id",
                F.coalesce(
                    F.col("__row_id"), F.col("__rb_base") + F.col("__mt_pos")
                ),
            )
            .withColumn(
                "_row_commit_version",
                F.coalesce(F.col("__row_ver"), F.col("__rb_ver")),
            )
            .drop(
                "__row_id", "__row_ver",
                "__rb_file", "__rb_base", "__rb_ver",
            )
        )

    def read_with_row_ids(
        self,
        version: int | None = None,
        with_commit_versions: bool = False,
    ) -> DataFrame:
        """Row tracking read (``delta.enableRowTracking``): the
        snapshot plus ``_row_id`` — a durable per-row id, stable across
        DV deletes (positions don't shift), across OPTIMIZE / CLUSTER /
        compact, AND across DML rewrites (every rewrite materializes
        surviving ids). Fresh rows mint monotonically; ids are never
        reused. With ``with_commit_versions`` the result also carries
        ``_row_commit_version`` — the version that last INSERTED or
        UPDATED the row (Delta row tracking's second field): carried
        and maintenance-rewritten rows keep theirs, updated/inserted
        rows take the modifying commit's version."""
        v = self.current_version() if version is None else version
        if not self._row_tracking_enabled():
            raise ValueError(
                f"table {self.name}: set TBLPROPERTY "
                "'delta.enableRowTracking' = 'true' first"
            )
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        meta_cols = ["_row_id"] + (
            ["_row_commit_version"] if with_commit_versions else []
        )
        entries = self._read_manifest(v)
        if not entries:
            df = self.spark.createDataFrame([], self.schema)
            for c in meta_cols:
                df = df.withColumn(c, F.lit(None).cast("long"))
            return df
        dv, _ = self._read_dv(v)
        df = self._scan_rels(entries.values(), need_meta=True,
                             with_row_col=True)
        df = self._attach_row_ids(df, v)
        if dv:
            df = df.join(
                self._dv_rows(dv).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        return df.select(*cols, *meta_cols)

    def _track_read(self, version: int | None = None) -> DataFrame:
        """Snapshot with the row-tracking meta columns renamed for
        RE-STAGING (``__row_id`` + ``__row_ver`` — the physical names
        rewrites materialize): a writer carries them through for rows
        it merely copies and NULLs ``__row_ver`` (or both) on rows it
        modifies/inserts; NULLs resolve at read time to base+position
        / the rewriting commit's version."""
        return (
            self.read_with_row_ids(version, with_commit_versions=True)
            .withColumnRenamed("_row_id", "__row_id")
            .withColumnRenamed("_row_commit_version", "__row_ver")
        )

    def read_pushdown(self, version: int | None = None) -> DataFrame:
        """The AUTOMATIC data-skipping read path: a DataFrame whose
        ``.filter(...)`` (or a SQL ``WHERE`` over a view of it) prunes
        manifest files through Catalyst filter pushdown — no explicit
        triples, same ``_file_matches`` logic as ``scan``. Delta-parity
        ergonomics: the reference's users get pruning implicitly from a
        plain WHERE (Seed-Store-Dashboard.py:64-67); so do callers of
        this. ``read()``/``scan()`` remain the JVM-native paths; this
        one moves data as Arrow batches through the Python source API,
        which wins whenever skipping removes more scan time than the
        Arrow hop costs — i.e. exactly the selective-probe workloads
        skipping exists for."""
        from .datasource import FORMAT_NAME, SENTINEL, register

        register(self.spark)
        r = self.spark.read.format(FORMAT_NAME).option("location", self.location)
        if version is not None:
            r = r.option("version", str(version))
        # the sentinel tautology defeats Spark 4.1's stale readInfo
        # cache (see datasource.SENTINEL); projected away immediately
        return r.load().where(F.col(SENTINEL).isNull()).drop(SENTINEL)

    def read_stream(
        self,
        starting_version: int | str = 0,
        ignore_deletes: bool = False,
        ignore_changes: bool = False,
        max_versions_per_trigger: int | None = None,
    ) -> DataFrame:
        """Structured-Streaming read of this table — Delta's
        ``spark.readStream.format("delta")`` parity: each micro-batch
        delivers the rows APPENDED since the last committed table
        version (offsets are versions, tracked by the engine's
        checkpoint). ``starting_version=0`` backfills the whole table
        first; ``"latest"`` streams only new data. Deletes/rewrites in
        the version window raise unless ``ignore_deletes`` /
        ``ignore_changes`` — the same contract (and caveats) as Delta's
        options of the same names. ``max_versions_per_trigger`` plays
        Delta's maxFilesPerTrigger role (see the reader for the
        first-batch-of-a-run caveat the Python DataSource API forces)."""
        from .datasource import FORMAT_NAME, SENTINEL, register

        register(self.spark)
        reader = (
            self.spark.readStream.format(FORMAT_NAME)
            .option("location", self.location)
            .option("startingVersion", str(starting_version))
            .option("ignoreDeletes", str(ignore_deletes).lower())
            .option("ignoreChanges", str(ignore_changes).lower())
        )
        if max_versions_per_trigger is not None:
            reader = reader.option(
                "maxVersionsPerTrigger", str(max_versions_per_trigger)
            )
        return reader.load().drop(SENTINEL)

    def read_change_stream(
        self,
        starting_version: int | str = 0,
        ignore_changes: bool = False,
    ) -> DataFrame:
        """Streaming CDC: ``readStream`` of the table's CHANGE FEED —
        each micro-batch delivers the row-level changes committed since
        the last checkpointed version, tagged ``_change_type`` /
        ``_commit_version`` / ``_commit_timestamp`` (Delta's
        ``readChangeFeed`` streaming option). DV deletes and updates
        arrive as change rows (unlike :meth:`read_stream`, which must
        reject them); rewrites (overwrite/compact/merge) stream as an
        EXACT multiset diff, hash-bucketed across workers so the diff
        is distributed and unbounded in rewrite size
        (``ignore_changes`` is accepted for compatibility but no
        longer needed). This is the 100 TB CDC-consumer shape:
        planning is per-version metadata, the data read is O(changed
        rows) plus the touched dirs of rewrite pairs."""
        from .datasource import FORMAT_NAME, SENTINEL, register

        register(self.spark)
        return (
            self.spark.readStream.format(FORMAT_NAME)
            .option("location", self.location)
            .option("startingVersion", str(starting_version))
            .option("readChangeFeed", "true")
            .option("ignoreChanges", str(ignore_changes).lower())
            .load()
            .drop(SENTINEL)
        )

    def create_view(self, view_name: str, version: int | None = None) -> DataFrame:
        """Register the table for SQL with implicit data skipping:
        ``spark.sql(f"SELECT … FROM {view_name} WHERE …")`` prunes files
        exactly like ``scan`` (the WHERE conjuncts reach the reader via
        pushFilters). Returns the backing DataFrame."""
        df = self.read_pushdown(version)
        df.createOrReplaceTempView(view_name)
        return df

    def last_pushdown_report(self) -> dict | None:
        """files_total/files_kept/pushed of the most recent pushdown
        read — the ``skipping_report`` observable for the automatic
        path."""
        from .datasource import last_pushdown_report

        return last_pushdown_report(self.location)

    # ----------------------------------------------------------- write core
    def _walk_staged(self, write_dir: str, write_rel: str) -> dict[str, str]:
        """Discover partition dirs produced by a staged write.

        Keys are JSON lists of partition value strings (None for the
        hive null dir) — derived from directory names on every write, so
        they are canonical across writes regardless of source types.
        """
        if not self.partition_columns:
            return {"[]": write_rel}
        staged: dict[str, str] = {}

        def rec(d: str, rel: str, vals: list[str | None]) -> None:
            if len(vals) == len(self.partition_columns):
                staged[json.dumps(vals)] = rel
                return
            if not os.path.isdir(d):
                return
            for entry in sorted(os.listdir(d)):
                if "=" not in entry or entry.startswith(("_", ".")):
                    continue
                raw = entry.split("=", 1)[1]
                val = None if raw == _HIVE_NULL else unquote(raw)
                rec(os.path.join(d, entry), f"{rel}/{entry}", vals + [val])

        rec(write_dir, write_rel, [])
        return staged

    def _partition_stat(self, typ: str, raw: str | None, rows: int):
        """``[min, max, nulls]`` stats entry for one hive partition
        value, encoded EXACTLY as ``_stat_scalar`` encodes the matching
        filter literal (date → ISO + 'T00:00:00.000000', timestamp →
        isoformat(microseconds), bool → int) — a raw path string would
        compare in the wrong space and wrongly prove emptiness (the
        ADVICE r07 datasource bug, kept fixed here by construction).
        Returns None for an unparseable value: un-indexed, never
        wrongly skipped."""
        if raw is None:  # __HIVE_DEFAULT_PARTITION__: every row null
            return [None, None, rows]
        try:
            if typ in ("tinyint", "smallint", "int", "bigint"):
                return [int(raw), int(raw), 0]
            if typ in ("float", "double"):
                return [float(raw), float(raw), 0]
            if typ == "boolean":
                low = raw.lower()
                if low not in ("true", "false"):
                    return None
                v = int(low == "true")
                return [v, v, 0]
            if typ == "date":
                v = datetime.date.fromisoformat(raw)
                s = _stat_scalar(v)
                return [s, s, 0]
            if typ.startswith("timestamp"):
                t = datetime.datetime.fromisoformat(raw.replace(" ", "T"))
                s = _stat_scalar(t)
                return [s, s, 0]
            if typ.startswith("decimal"):
                # encode EXACTLY as _stat_scalar encodes a Decimal
                # filter literal (float, no widening for an exact
                # value) so '=' scope/prune probes compare in one space
                s = _stat_scalar(decimal.Decimal(raw))
                return [s, s, 0]
            if typ == "string":
                return [raw, raw, 0]
        except (ValueError, decimal.InvalidOperation):
            return None
        return None

    def _collect_file_stats(
        self, write_dir: str, key_base: str | None = ""
    ) -> dict[str, dict]:
        """Harvest per-file column min/max/null-count from the parquet
        FOOTERS of a staged write — no data pages are read, which is
        exactly how Delta/Iceberg collect stats at commit time. Footer
        reads are driver-local metadata I/O, O(files in the batch), not
        O(table); an object-store deployment would parallelize the
        listing but the cost model is the same.

        Hive PARTITION values are injected as min=max entries per file
        (Delta records partitionValues on every add-file the same way):
        a partition-column filter then prunes through the ordinary
        stats path — on ``scan``, the distributed checkpoint job, AND
        the SQL pushdown reader — instead of only the pushdown reader's
        path-recovery special case. At 100 TB this is the difference
        between a partition-scoped ``scan`` touching one leaf dir and
        touching every file in the table.

        Truncated string bounds (parquet-mr caps binary stats and bumps
        the last byte of a truncated max) remain valid BOUNDS, so
        pruning against them stays sound. A column whose stats are
        absent in any row group is dropped from the file's index —
        un-prunable, never wrongly skipped. Only the first
        ``_STATS_MAX_COLS`` top-level atomic columns are indexed
        (Delta's dataSkippingNumIndexedCols analogue)."""
        import pyarrow.parquet as pq

        indexed = {
            f.name
            for f in (self.schema.fields if self.schema else [])[:_STATS_MAX_COLS]
        }
        ptypes = {
            f.name: f.dataType.simpleString()
            for f in (self.schema.fields if self.schema else [])
            if f.name in self.partition_columns
        }
        out: dict[str, dict] = {}
        for dirpath, _dirs, files in os.walk(write_dir):
            pvals: dict[str, str | None] = {}
            for piece in os.path.relpath(dirpath, write_dir).split(os.sep):
                if "=" in piece and not piece.startswith(("_", ".")):
                    k, raw = piece.split("=", 1)
                    pvals[k] = None if raw == _HIVE_NULL else unquote(raw)
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                # key space: location-relative for own files (default),
                # ABSOLUTE for externally-referenced files (CONVERT —
                # the same key space clones use)
                rel = (
                    full
                    if key_base is None
                    else os.path.relpath(full, key_base or self.location)
                )
                md = pq.ParquetFile(full).metadata
                cols: dict[str, list] = {}
                dead: set[str] = set()
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        cc = rg.column(c_i)
                        name = cc.path_in_schema
                        if "." in name or (indexed and name not in indexed):
                            continue
                        st = cc.statistics
                        if st is None or st.null_count is None:
                            dead.add(name)
                            continue
                        if st.has_min_max:
                            try:
                                mn = _stat_scalar(st.min, round_toward=float("-inf"))
                                mx = _stat_scalar(st.max, round_toward=float("inf"))
                            except Exception:
                                # pyarrow can't extract stats for every
                                # physical type (e.g. some decimals) —
                                # un-indexable, never wrongly skipped
                                dead.add(name)
                                continue
                            if mn is None or mx is None:
                                dead.add(name)
                                continue
                        else:  # all-null row group: bounds stay absent
                            mn = mx = None
                        prev = cols.get(name)
                        if prev is None:
                            cols[name] = [mn, mx, st.null_count]
                        else:
                            pmn, pmx, pnull = prev
                            cols[name] = [
                                mn if pmn is None else pmn if mn is None else min(pmn, mn),
                                mx if pmx is None else pmx if mx is None else max(pmx, mx),
                                pnull + st.null_count,
                            ]
                for name in dead:
                    cols.pop(name, None)
                for k, raw in pvals.items():
                    if k in cols or (ptypes and k not in ptypes):
                        continue
                    ent = self._partition_stat(
                        ptypes.get(k, "string"), raw, md.num_rows
                    )
                    if ent is not None:
                        cols[k] = ent
                out[rel] = {"rows": md.num_rows, "cols": cols}
        return out

    def _stage_change_data(
        self,
        v_prev: int,
        removed_rels: list[str],
        staged_rels: list[str],
        write_rel: str,
    ) -> dict[str, str]:
        """Write-side CDC (``delta.enableChangeDataFeed``): materialize
        a rewrite commit's exact row-level diff WHILE THE COMMIT RUNS —
        the removed entries' visible rows vs the newly staged rows —
        into ``_change_data/<write id>/{insert,delete}`` parquet,
        recorded in the same manifest. CDF readers (batch and
        streaming) then read each changed byte ONCE from the staged
        files instead of re-deriving the diff per read (the streaming
        reader's bucketed fallback re-reads an unpartitioned rewrite
        pair up to 256×; this is Delta's actual answer — change files
        are written by the commit that caused the change).

        One shuffle total: both sides union with ±1 weights, one
        groupBy over the full row computes the NET multiset count, and
        ``explode(sequence(...))`` re-expands survivors — exact
        duplicate-row cardinality, carried rows cancel map-side-ish in
        the same aggregation. Rows can never cancel across hive
        partitions, so the shuffle is as skew-safe as the data layout.
        Staged change files store physical column names (no-renames
        guard at the call site) with partition columns materialized,
        so readers just read them."""
        cols = [f.name for f in self.schema.fields]
        dv_prev, _ = self._read_dv(v_prev)
        touched_dv = {
            f: d
            for f, d in dv_prev.items()
            if _rel_covers(set(removed_rels), f)
        }
        old = self._scan_rels(removed_rels, need_meta=bool(touched_dv))
        if touched_dv:
            old = old.join(
                self._dv_rows(touched_dv).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        old = old.select(*cols)
        new = (
            self._scan_rels(staged_rels, need_meta=False).select(*cols)
            if staged_rels
            else self.spark.createDataFrame([], self.schema)
        )
        net = (
            new.withColumn("__w", F.lit(1))
            .unionByName(old.withColumn("__w", F.lit(-1)))
            .groupBy(*cols)
            .agg(F.sum("__w").alias("__n"))
        )
        base_rel = f"_change_data/{os.path.basename(write_rel)}"
        out: dict[str, str] = {}
        for tag, side in (
            ("insert", net.where(F.col("__n") > 0)),
            ("delete", net.where(F.col("__n") < 0)),
        ):
            rel = f"{base_rel}/{tag}"
            side.withColumn(
                "__r", F.explode(F.expr("sequence(1, abs(__n))"))
            ).select(*cols).write.mode("overwrite").parquet(
                os.path.join(self.location, rel)
            )
            out[tag] = rel
        return out

    def _stage_and_commit(
        self,
        df: DataFrame,
        *,
        replace_all: bool,
        sort: bool = True,
        txn: tuple[str, int] | None = None,
        op: str = "WRITE",
        append_only: bool = False,
        identity_claim: Mapping[str, tuple[int, int]] | None = None,
        copy_files_add: Mapping[str, list] | None = None,
        copy_files_guard: Sequence[str] = (),
        drop_rels: Collection[str] = (),
        mark_clustered: bool = False,
        reset_metadata: bool = False,
        row_ids_materialized: bool | str = False,
        read_version: int | None = None,
        read_keys: Collection[str] | None = None,
        read_dnf: Sequence[Sequence[tuple]] | None = None,
        touched_files: Collection[str] | None = None,
        file_read_dnf: Sequence[Sequence[tuple]] | None = None,
        cow_rewrite_files: Collection[str] | None = None,
    ) -> int:
        """Write ``df``'s partitions as version ``current+1``.

        With ``replace_all`` the new manifest contains only the staged
        partitions; otherwise staged partitions replace their previous
        entries and all other entries carry over untouched (their files
        are never rewritten — byte-identical across the merge, and their
        footer stats carry over with them). With ``append_only`` the
        staged entries replace NOTHING: their keys are suffixed with the
        write id so they coexist with the partition's existing entries.
        ``drop_rels`` removes the named entry dirs from the manifest in
        the same commit (their stats and deletion vectors die with
        them) — the remove-file half of a ``replace_where`` transaction.

        ``read_version`` + ``read_keys``/``read_dnf`` declare the
        transaction's READ region (Delta's OptimisticTransaction read
        set): the snapshot version the staged frame was derived from,
        plus the base entry keys (and/or predicate DNF) it read. Every
        commit that landed between ``read_version`` and the version
        being claimed is conflict-checked against the region — an
        overlapping intermediate commit raises ``ConcurrentWriteError``
        (the staged frame is stale), a disjoint one is carried over.
        The same region lets a claim-collision loser REBASE instead of
        raising when the winner's writes are provably disjoint
        (``_rebind_for_disjoint_rebase``). ``read_keys=None`` keeps the
        legacy behavior: no region is known, any intermediate commit or
        claim collision is a conflict.

        ``row_ids_materialized``: ``True``/"all" marks every staged
        file as carrying ids in-data (maintenance rewrites — no fresh
        rows); ``"partial"`` additionally mints a base id per staged
        file so rows whose ``__row_id`` is NULL (merge inserts riding a
        rewrite) resolve to base + position.

        ``touched_files`` + ``file_read_dnf`` (round 14): declare the
        transaction's region at FILE granularity instead of entry keys
        — the copy-on-write DML shape (entry-scoped DELETE/UPDATE
        rewrites). Both the stale-read window check and the
        claim-collision rebase then run ``_dv_rebase_conflicts`` /
        the file-granular ``_rebind_for_disjoint_rebase`` mode, which
        proves disjointness even on unpartitioned tables and exempts
        blind appends (write-serializable).

        ``cow_rewrite_files`` (round 15, per-file CoW): the exact data
        FILES a copy-on-write DML rewrote (its staged frame holds their
        survivors). The manifest assembly retires ONLY those files:
        each one's covering entry is dropped and, when the entry is a
        dir with untouched neighbors, those neighbors re-enter the
        manifest as file-granular CARRY entries (key
        ``<base>@carry:<file rel>`` — deterministic, so an unchanged
        carried file diffs as unchanged across versions). Derived per
        assembly against the actual base, so a claim-collision rebase
        re-plans the drop/carry split against the winner's manifest —
        two CoW DMLs matching rows in DIFFERENT files of the SAME
        entry of an unpartitioned table both land, Delta's per-file
        CoW parity."""
        v_new = self.current_version() + 1
        # enforce against the constraint set of the version being built
        # on (a constraint added by another writer after this handle
        # opened must bind; a retry after ConcurrentWriteError must see
        # the winner's constraints)
        if v_new > 0 and reset_metadata:
            # CREATE OR REPLACE TABLE: the commit carries the handle's
            # FRESH metadata (reset by the caller) instead of
            # re-binding the previous version's — the whole point of a
            # replace. History still chains: restore returns to the
            # old table, metadata included.
            pass
        elif v_new > 0:
            self.constraints = self._read_constraints(v_new - 1)
            # same rule for column mapping: write physical names of the
            # version being built on (a rename committed by another
            # writer must bind on retry)
            self.renames = self._read_renames(v_new - 1)
            # and for the bloom config: index exactly the columns the
            # base version declares
            self.bloom = self._read_bloom(v_new - 1)
            self.generated = self._read_generated(v_new - 1)
            self.identity = self._read_identity(v_new - 1)
            self.copy_files = self._read_copy_files(v_new - 1)
            # a property set by another writer (e.g. appendOnly) must
            # bind on this commit too
            self.properties = self._read_properties(v_new - 1)
            self._apply_functional_properties()
            self.defaults = self._read_defaults(v_new - 1)
            self.cluster_by = self._read_cluster_by(v_new - 1)
            self.clustered_rels = self._read_clustered(v_new - 1)
        if v_new > 0 and not reset_metadata:
            self._check_partition_layout(v_new - 1)
        if copy_files_add:
            # two COPY INTOs racing on the same source files would load
            # rows twice; the ledger is the conflict detector (the
            # loser's retry re-diffs and no-ops). The guard holds only
            # the files the caller diffed as ABSENT — a FORCE reload of
            # already-recorded files is intentional, not a conflict.
            dup = sorted(set(copy_files_guard) & set(self.copy_files))
            if dup:
                raise ConcurrentWriteError(
                    f"table {self.name}: {len(dup)} source file(s) were "
                    "COPY'd by a concurrent writer (first: "
                    f"{dup[0]!r}); re-run COPY INTO to re-diff"
                )
            self.copy_files = {**self.copy_files, **dict(copy_files_add)}
        if identity_claim:
            # ids were minted against a base watermark; if another
            # writer consumed ids since, this batch's ids may collide —
            # fail BEFORE staging so the caller re-assigns and retries
            # (Delta's identity high-watermark conflict rule). The
            # authoritative validate-and-bump runs per commit attempt
            # in the claim loop below (``_claim_identity_bump``) so a
            # rebase re-checks against the winner's watermark; this is
            # just the cheap pre-staging fail-fast.
            for c, (base_next, _used) in identity_claim.items():
                spec = self.identity.get(c)
                if spec is None or int(spec["next"]) != int(base_next):
                    raise ConcurrentWriteError(
                        f"table {self.name}: identity column {c!r} "
                        "watermark moved under this transaction; re-run "
                        "the write to mint fresh ids"
                    )
        df = self._ansi_coerce(df)
        # writer-unique staging root (Delta's GUID-named data files):
        # two writers racing for the same version number must never
        # share a directory — the loser's cleanup would otherwise
        # delete files the winner's committed manifest references
        write_rel = f"data/w={v_new}-{uuid.uuid4().hex[:8]}"
        write_dir = os.path.join(self.location, write_rel)
        if sort and self.sort_columns:
            df = df.sortWithinPartitions(*self.sort_columns)
        elif sort and self.cluster_by:
            # cluster-on-write (liquid's eventual clustering): a local
            # sort tightens new files' footer stats on the cluster keys
            # until the next incremental OPTIMIZE re-lays them out
            df = df.sortWithinPartitions(*self.cluster_by)
        # data files always store PHYSICAL column names (column
        # mapping: partition/sort columns are unrenameable, so those
        # stay literal)
        df = self._to_physical(df)
        writer = df.write.mode("overwrite")
        if self.partition_columns:
            writer = writer.partitionBy(*self.partition_columns)
        writer.parquet(write_dir)
        self._enforce_constraints(write_dir)
        if self.schema is None:
            self.schema = df.schema
        if self.bloom:
            try:
                self._write_bloom_sidecars(write_dir, write_rel)
            except Exception:
                # the index is a rebuildable pruning cache — a sidecar
                # failure must never abort the data transaction; files
                # without bitmaps are simply never bloom-pruned
                pass
        staged = self._walk_staged(write_dir, write_rel)
        if mark_clustered:
            self.clustered_rels = sorted(
                set(self.clustered_rels) | set(staged.values())
            )
        if append_only:
            staged = {f"{k}@{write_rel}": rel for k, rel in staged.items()}
        if self.schema is None:
            self.schema = df.schema
        staged_stats = self._collect_file_stats(write_dir)
        # the transaction's full touched region: what it read (caller-
        # declared — scoped callers include their drop_rels' keys) plus
        # what it writes (the staged partitions)
        touched_keys: set[str] | None = None
        if read_keys is not None or read_dnf is not None:
            touched_keys = set(read_keys or ())
            touched_keys.update(_base_key(k) for k in staged)

        def _assemble(base: int):
            """Manifest state for committing the staged entries on top
            of version ``base`` — split out so a blind-append rebase
            (see below) can re-run it against a racing winner's base
            without touching the staged data files."""
            if replace_all or base < 0:
                entries = dict(staged)
                prev_stats: dict[str, dict] = {}
            else:
                # replace by BASE partition key: append-entries (INSERT
                # INTO / DV updates) carry a "@<write id>" suffix but
                # belong to the same partition — restaging that
                # partition drops them too. An append_only stage
                # replaces nothing: its keys are unique by construction.
                prev_entries = self._read_manifest(base)
                dropped = set(drop_rels)
                carry: dict[str, str] = {}
                if cow_rewrite_files:
                    # per-file CoW: retire each rewritten file's
                    # covering entry in THIS base's manifest (a dir in
                    # our read snapshot may already be file-granular in
                    # a rebase winner's), carrying the dir's untouched
                    # neighbors as file entries. Conflict checking has
                    # already proved every rewritten file is still
                    # live in `base`.
                    base_rels = set(prev_entries.values())
                    rewritten = set(cow_rewrite_files)
                    cow_drop = {
                        f if f in base_rels else os.path.dirname(f)
                        for f in rewritten
                    }
                    rel_key = {rel: k for k, rel in prev_entries.items()}
                    base_stats = self._read_stats(base)
                    for rel in sorted(cow_drop):
                        if _rel_is_file(rel) or rel not in rel_key:
                            continue
                        bk = _base_key(rel_key[rel])
                        for f in self._files_under(
                            [rel], base, stats=base_stats
                        ):
                            if f in rewritten:
                                continue
                            if "=" in os.path.basename(f):
                                # unreachable when the caller widened
                                # via _cow_widen_ambiguous; losing the
                                # file silently would drop its rows
                                raise RuntimeError(
                                    f"table {self.name}: cannot carry "
                                    f"{f!r} as a file entry (ambiguous "
                                    "basename) — CoW scope must cover "
                                    "its whole entry"
                                )
                            carry[f"{bk}@carry:{f}"] = f
                    dropped |= cow_drop
                entries = {
                    k: rel
                    for k, rel in prev_entries.items()
                    if rel not in dropped
                    and (append_only or _base_key(k) not in staged)
                }
                entries.update(staged)
                entries.update(carry)
                prev_stats = self._read_stats(base)
            # stats for retained files carry over; replaced/removed
            # entries' files fall out because their covering entry
            # (leaf dir or carry-file rel) left the manifest
            kept_dirs = set(entries.values()) - set(staged.values())
            stats = {
                f: s for f, s in prev_stats.items()
                if _rel_covers(kept_dirs, f)
            }
            stats.update(staged_stats)
            # deletion vectors of RETAINED files carry over; a replaced
            # file's DV dies with it (its replacement holds only
            # visible rows, because every read path applies DVs)
            if replace_all or base < 0:
                dv, dv_n = {}, {}
            else:
                prev_dv, prev_dv_n = self._read_dv(base)
                dv = {
                    f: d for f, d in prev_dv.items()
                    if _rel_covers(kept_dirs, f)
                }
                dv_n = {f: n for f, n in prev_dv_n.items() if f in dv}
            txns = dict(self._read_txn(base)) if base >= 0 else {}
            if txn is not None:
                txns[txn[0]] = int(txn[1])
            # row tracking: surviving files keep their base ids or
            # materialized marker, staged files mint fresh ids — or
            # carry them IN-DATA when the rewrite materialized the
            # __row_id column (maintenance); pre-tracking files
            # backfill on their first post-enable commit
            row_base, row_mat, row_high, row_ver = self._carried_row_base(
                base,
                stats,
                materialized=(
                    staged_stats if row_ids_materialized else ()
                ),
                mint_materialized=(row_ids_materialized == "partial"),
            )
            return (
                entries, stats, dv, dv_n, txns,
                row_base, row_mat, row_high, row_ver,
            )

        (
            entries, stats, dv, dv_n, txns,
            row_base, row_mat, row_high, row_ver,
        ) = _assemble(v_new - 1)
        # write-side CDC: a rewrite on a CDF-enabled table stages its
        # exact diff in the same transaction (Delta's change files).
        # Appends need none (the incremental read strategy is already
        # O(changed rows)); OPTIMIZE/REORG are dataChange=false and
        # skipped by readers; column-mapped tables fall back to the
        # read-side diff (staged files couldn't name future logical
        # columns)
        cdf_staged = None
        if (
            v_new > 0
            and not str(op).startswith(("OPTIMIZE", "REORG"))
            and not self.renames
            and self._cdf_enabled()
        ):
            new_vals = set(entries.values())
            removed_rels: list[str] = []
            cdf_prev_stats = self._read_stats(v_new - 1)
            for rel in sorted(
                set(self._read_manifest(v_new - 1).values()) - new_vals
            ):
                if _rel_is_file(rel):
                    removed_rels.append(rel)
                    continue
                # a dir retired by a per-file CoW keeps some of its
                # files as carry entries — only the non-carried files
                # were actually removed, so the staged diff must not
                # scan the carried ones as deletes
                under = self._files_under(
                    [rel], v_new - 1, stats=cdf_prev_stats
                )
                if any(f in new_vals for f in under):
                    removed_rels.extend(
                        f for f in under if f not in new_vals
                    )
                else:
                    removed_rels.append(rel)
            if removed_rels:
                cdf_staged = self._stage_change_data(
                    v_new - 1, removed_rels,
                    sorted(set(staged.values())), write_rel,
                )
        self._save_schema()

        def _discard_staged():
            # discard this transaction's staged files (and their bloom
            # sidecars and staged change files — vacuum would sweep
            # them, but the loser knows NOW)
            shutil.rmtree(write_dir, ignore_errors=True)
            shutil.rmtree(
                self._bloom_dir_for_root(write_rel), ignore_errors=True
            )
            if cdf_staged:
                shutil.rmtree(
                    os.path.join(
                        self.location,
                        f"_change_data/{os.path.basename(write_rel)}",
                    ),
                    ignore_errors=True,
                )

        # serializability over the read snapshot: commits that landed
        # between the version this frame was DERIVED from and the
        # version it will claim must not overlap its region — the frame
        # baked a stale view of any entry they touched. Disjoint
        # intermediates are fine (their entries carry over via
        # _assemble). Metadata is re-adopted above, so only data
        # overlap is checked here.
        if read_version is not None and touched_files is not None:
            # FILE-granular window check (round 14, the CoW DML shape):
            # blind-append-aware, so an unrelated ingest landing inside
            # the window never aborts a selective rewrite
            for iv in range(read_version + 1, v_new):
                if self._dv_rebase_conflicts(
                    iv, set(touched_files), file_read_dnf
                ):
                    _discard_staged()
                    raise ConcurrentWriteError(
                        f"table {self.name}: version {iv} (committed "
                        "after this transaction's read snapshot "
                        f"{read_version}) touched files this "
                        f"{op} read or rewrites; re-run against the "
                        "current version"
                    )
        elif read_version is not None and touched_keys is not None:
            for iv in range(read_version + 1, v_new):
                if self._commit_conflicts(iv, touched_keys, read_dnf):
                    _discard_staged()
                    raise ConcurrentWriteError(
                        f"table {self.name}: version {iv} (committed "
                        "after this transaction's read snapshot "
                        f"{read_version}) touched entries this "
                        f"{op} read or rewrites; re-run against the "
                        "current version"
                    )
        # self-declared blind-append marker for FILE-level conflict
        # detection (the reader is _commit_delta_files): a transaction
        # that read nothing — no region declared, no entry replaced or
        # dropped, no metadata reset — may be serialized AFTER any
        # racing DML regardless of that DML's read predicate
        commit_blind = (
            append_only
            and not replace_all
            and not drop_rels
            and not reset_metadata
            and touched_keys is None
            and touched_files is None
        )
        rebases = 0
        while True:
            if identity_claim:
                try:
                    # CREATE OR REPLACE (reset_metadata) carries the
                    # handle's FRESH identity declarations — the base
                    # manifest's (old table's) watermarks must not
                    # govern it; base=-1 validates against the handle
                    # (a replace never rebases, so the loop runs once)
                    self._claim_identity_bump(
                        identity_claim,
                        -1 if reset_metadata else v_new - 1,
                    )
                except ConcurrentWriteError:
                    _discard_staged()
                    raise
            try:
                self._write_manifest(
                    v_new, entries, stats, txns, op, dv=dv, dv_n=dv_n,
                    cdf=cdf_staged, row_base=row_base, row_mat=row_mat,
                    row_high=row_high, row_ver=row_ver, blind=commit_blind,
                )
                break
            except ConcurrentWriteError:
                # Delta's logical conflict rules, in order:
                # (1) a BLIND APPEND (stages new entries only — removes
                #     nothing, rewrites nothing, mints nothing) never
                #     conflicts with another commit;
                # (2) a NON-BLIND commit whose declared read/write
                #     region is provably disjoint from the winner's
                #     write set rebases too (two MERGEs into different
                #     partitions both land — parallel partitioned
                #     writers instead of serialized ones).
                # Either way: re-bind metadata to the winner's version,
                # re-validate, and retry at the next version number —
                # the staged data files are reused as-is (their dir is
                # writer-unique). Anything else keeps first-writer-wins
                # and raises to the caller.
                rebases += 1
                blind_ok = (
                    append_only
                    and not replace_all
                    and not drop_rels
                    and not mark_clustered
                    and not reset_metadata
                    # an identity_claim does NOT block the rebase
                    # (round 14): the claim loop above re-validates the
                    # watermark against each winner — an identity
                    # append racing a non-minting commit rebases; one
                    # racing another mint discards and re-mints
                    and cdf_staged is None
                    # a commit that DECLARED a read region is not blind
                    # even when the region classified empty: an empty-
                    # region replace_where still made the promise "no
                    # rows match the predicate" — a racing append INTO
                    # that region must fail it via the disjoint path's
                    # read_dnf check, not be rebased over
                    and touched_keys is None
                    and touched_files is None
                    and v_new > 0
                    and rebases <= 16
                ) and self._rebind_for_append_rebase(
                    v_new, txn, copy_files_add, copy_files_guard,
                )
                if not blind_ok:
                    disjoint_ok = (
                        (
                            touched_keys is not None
                            or touched_files is not None
                        )
                        and not replace_all
                        and not reset_metadata
                        and v_new > 0
                        and rebases <= 16
                    ) and self._rebind_for_disjoint_rebase(
                        v_new, txn, copy_files_add, copy_files_guard,
                        touched_keys or (), read_dnf,
                        touched_files=touched_files,
                        file_read_dnf=file_read_dnf,
                    )
                    if not disjoint_ok:
                        # lost the race for real
                        _discard_staged()
                        raise
                    if mark_clustered:
                        # the rebind adopted the winner's clustered
                        # set; re-mark this transaction's staged dirs
                        # (regions are disjoint, so the union is exact)
                        self.clustered_rels = sorted(
                            set(self.clustered_rels) | set(staged.values())
                        )
                v_new += 1
                (
                    entries, stats, dv, dv_n, txns,
                    row_base, row_mat, row_high, row_ver,
                ) = _assemble(v_new - 1)
        self._commit(v_new)
        if v_new > 0 and v_new % _CHECKPOINT_INTERVAL == 0:
            try:
                self.checkpoint(v_new)
            except Exception:
                # the checkpoint is a rebuildable cache — its failure
                # must never poison the already-committed version; the
                # next interval commit (or an explicit checkpoint())
                # writes it
                pass
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        if (
            self.auto_compact
            and not op.startswith("OPTIMIZE")
            and op != "VACUUM"
        ):
            try:
                # selective by construction: only partitions at/over the
                # small-file threshold rewrite; everything else carries
                # over untouched, and a no-op returns without a commit
                self.optimize(min_small_files=self.auto_compact_min_files)
            except ConcurrentWriteError:
                pass  # another writer compacted or won the version race
        return v_new

    def _commit_metadata_only(self, op: str = "SCHEMA EVOLVE") -> int:
        """Bump the version carrying the current schema but the PREVIOUS
        manifest's entries unchanged — no data files are written. Used
        when a merge changes the schema (evolution) but inserts nothing."""
        v_new = self.current_version() + 1
        self._save_schema()
        dv, dv_n = self._read_dv(v_new - 1)
        prev_stats = self._read_stats(v_new - 1)
        rb, rm, rh, rv = self._carried_row_base(v_new - 1, prev_stats)
        self._write_manifest(
            v_new,
            self._read_manifest(v_new - 1),
            prev_stats,
            self._read_txn(v_new - 1),
            op,
            dv=dv,
            dv_n=dv_n,
            row_base=rb,
            row_mat=rm,
            row_high=rh,
            row_ver=rv,
        )
        self._commit(v_new)
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        return v_new

    def overwrite(self, df: DataFrame, op: str = "WRITE") -> int:
        self._check_append_only("overwrite")
        df = self._apply_generated(df)
        df, id_claim = self._assign_identity(df)
        cols = [f.name for f in (self.schema or df.schema).fields]
        return self._stage_and_commit(
            df.select(*cols), replace_all=True, op=op,
            identity_claim=id_claim,
        )

    def append(self, df: DataFrame, op: str = "APPEND") -> int:
        """Plain ``INSERT INTO`` / mode("append") parity: the staged
        dirs COEXIST with every existing entry — nothing is replaced,
        nothing deduplicated (that's :meth:`merge_insert_only`). Entry
        keys carry the write id so two appends to the same partition
        both survive; a later partition-scoped merge replaces by base
        key and drops all of a partition's appended entries at once."""
        if self.current_version() < 0:
            return self.overwrite(df, op=op)
        df = self._apply_generated(df)
        df, id_claim = self._assign_identity(df)
        cols = [f.name for f in (self.schema or df.schema).fields]
        return self._stage_and_commit(
            df.select(*cols), replace_all=False, append_only=True, op=op,
            identity_claim=id_claim,
        )

    def replace_where(
        self, df: DataFrame, filters: Sequence[tuple], op: str = "REPLACE WHERE"
    ) -> int:
        """Delta/Databricks ``replaceWhere`` — atomically replace
        exactly the rows matching ``filters`` (conjunctive triples, the
        ``scan`` shape) with ``df``, in ONE commit: the selective
        overwrite behind every idempotent backfill job
        (``.mode("overwrite").option("replaceWhere", "date >= …")``).
        Reference shape: the Bronze jobs re-run a whole ingestion
        window (Bronze-Ingestion-Customers.py:51-58); replaceWhere is
        that re-run as one atomic region swap instead of MERGE.

        Scale shape (the reason this isn't delete+insert): each
        manifest entry dir is classified against its FOOTER stats —
        dirs whose files provably all match the predicate are dropped
        metadata-only (a partition-aligned predicate retires whole
        partitions with ZERO data I/O), dirs that provably contain no
        match carry over byte-untouched, and only straddling dirs are
        rewritten (their non-matching remainder re-staged, deletion
        vectors applied so dead rows never resurrect). At 100 TB a
        date-range backfill touches the window's partitions and
        nothing else. Delta's contract is enforced: every incoming row
        must satisfy the predicate, NULL-predicate rows are kept (a
        comparison on NULL is not a match), and the whole swap is one
        manifest commit — concurrent writers conflict, never interleave.

        ``df`` may be empty (a conditional delete of the region);
        generated/identity columns and CHECK constraints bind on the
        staged rows exactly as in ``append``."""
        for t in filters:
            if len(t) < 2 or t[1] not in _FILTER_OPS:
                raise ValueError(f"bad filter triple {t!r}")
        self._check_append_only("REPLACE WHERE")
        if not filters:
            raise ValueError(
                "replace_where needs at least one filter triple; "
                "use overwrite() to replace the whole table"
            )
        if self.current_version() < 0:
            # creating through replaceWhere: nothing to replace
            return self.overwrite(df, op=op)
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        cond = self._filter_expr(list(filters))
        # Delta's replaceWhere constraint: every incoming row must lie
        # inside the region being replaced, else the "overwrite region
        # R with D" contract silently widens
        viol = df.filter(~F.coalesce(cond, F.lit(False))).take(1)
        if viol:
            raise ValueError(
                f"table {self.name}: replace_where data must match the "
                f"predicate {filters!r}; found non-matching row {viol[0]!r}"
            )
        v = self.current_version()
        phys = self._phys_triples(list(filters))
        entries = self._read_manifest(v)
        stats = self._read_stats(v)
        drop_rels: set[str] = set()
        rewrite_rels: set[str] = set()
        for rel in set(entries.values()):
            abs_dir = os.path.join(self.location, rel)
            any_possible = False
            all_proved = True
            for dirpath, _dirs, fns in os.walk(abs_dir):
                for fn in fns:
                    if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                        continue
                    frel = os.path.relpath(
                        os.path.join(dirpath, fn), self.location
                    )
                    st = stats.get(frel)
                    if st is None:
                        any_possible, all_proved = True, False
                        continue
                    if self._file_matches(st, phys):
                        any_possible = True
                        if not self._file_all_match(st, phys):
                            all_proved = False
                    else:
                        all_proved = False
            if not any_possible:
                continue  # provably untouched: carries over byte-identical
            if all_proved:
                drop_rels.add(rel)  # metadata-only retirement
            else:
                rewrite_rels.add(rel)
        # observability: callers (and the oracle entry) can assert the
        # metadata-only fast path actually engaged
        self.last_replace_classification = {
            "dropped": len(drop_rels),
            "rewritten": len(rewrite_rels),
            "carried": len(set(entries.values())) - len(drop_rels)
            - len(rewrite_rels),
        }
        track = self._row_tracking_enabled()
        staged = self._apply_generated(df)
        staged, id_claim = self._assign_identity(staged)
        staged = staged.select(*cols)
        if track:
            # the incoming region data is new rows (fresh ids and
            # versions mint via the file-level fallbacks); the
            # straddling dirs' remainder keeps its ids + versions
            # in-data
            staged = staged.withColumn(
                "__row_id", F.lit(None).cast("long")
            ).withColumn("__row_ver", F.lit(None).cast("long"))
        if rewrite_rels:
            dv, _ = self._read_dv(v)
            touched_dv = {
                f: d for f, d in dv.items()
                if _rel_covers(rewrite_rels, f)
            }
            live = self._scan_rels(
                sorted(rewrite_rels),
                need_meta=bool(touched_dv) or track,
                with_row_col=track,
            )
            if track:
                live = self._attach_row_ids(live, v)
            if touched_dv:
                live = live.join(
                    self._dv_rows(touched_dv).select(
                        F.col("file").alias("__mt_key"),
                        F.col("pos").alias("__mt_pos"),
                    ),
                    ["__mt_key", "__mt_pos"],
                    "left_anti",
                )
            remainder = live.select(
                *cols,
                *(
                    [
                        F.col("_row_id").alias("__row_id"),
                        F.col("_row_commit_version").alias("__row_ver"),
                    ]
                    if track
                    else []
                ),
            ).filter(~F.coalesce(cond, F.lit(False)))
            staged = remainder.unionByName(staged)
        # read region: the replaced predicate itself (an intermediate
        # or racing commit ADDING rows that match the predicate would
        # survive the swap and violate the replaceWhere contract — the
        # DNF check is conservative for non-partition predicates) plus
        # the classified entries
        rel_keys = {
            _base_key(k)
            for k, rel in entries.items()
            if rel in (drop_rels | rewrite_rels)
        }
        return self._stage_and_commit(
            staged,
            replace_all=False,
            append_only=True,
            op=op,
            identity_claim=id_claim,
            drop_rels=drop_rels | rewrite_rels,
            row_ids_materialized="partial" if track else False,
            read_version=v,
            read_keys=rel_keys,
            read_dnf=[list(phys)],
        )

    def insert_overwrite(self, df: DataFrame, dynamic: bool = True) -> int:
        """``INSERT OVERWRITE`` with Spark's
        ``partitionOverwriteMode=dynamic`` semantics (the default
        here): only the partitions the incoming data touches are
        replaced — their previous entries (including append-suffixed
        ones) retire, every other partition carries over byte-untouched
        with its stats and deletion vectors. The nightly re-materialize
        job's write mode: recompute three hot days, keep three years of
        cold history unread. With ``dynamic=False`` (or on an
        unpartitioned table) this is the classic static INSERT
        OVERWRITE: the new snapshot holds only the staged data."""
        self._check_append_only("INSERT OVERWRITE")
        df = self._apply_generated(df)
        df, id_claim = self._assign_identity(df)
        cols = [f.name for f in (self.schema or df.schema).fields]
        if not dynamic or not self.partition_columns or self.current_version() < 0:
            return self._stage_and_commit(
                df.select(*cols), replace_all=True,
                op="INSERT OVERWRITE", identity_claim=id_claim,
            )
        return self._stage_and_commit(
            df.select(*cols), replace_all=False,
            op="INSERT OVERWRITE (DYNAMIC)", identity_claim=id_claim,
        )

    # ----------------------------------------------------- data skipping
    @staticmethod
    def _file_matches(stat: dict, filters: Sequence[tuple]) -> bool:
        """Can the file possibly contain a row satisfying ALL filters?
        Sound, not complete: returns True whenever the stats cannot
        PROVE emptiness (missing column, incomparable types, absent
        bounds with non-null rows)."""
        rows = stat.get("rows", 0)
        cols = stat.get("cols", {})
        if rows == 0 and filters:
            return False  # a zero-row file (empty write task) has nothing
        for col, op, *rest in filters:
            cs = cols.get(col)
            if cs is None:
                continue  # un-indexed column: cannot prune on it
            mn, mx, nulls = cs
            all_null = mn is None and mx is None and nulls >= rows
            if op == "is_null":
                if nulls == 0:
                    return False
                continue
            if op == "is_not_null":
                if all_null:
                    return False
                continue
            # comparison ops never match NULL rows
            if all_null:
                return False
            if mn is None or mx is None:
                continue  # bounds unknown, non-null rows exist: keep
            if op == "in_bloom":
                # key-set membership sketch: min/max stats cannot
                # decide it — kept conservatively here; the refinement
                # probe lives in _dv_rebase_conflicts
                continue
            if op == "in":
                vals = [_stat_scalar(x) for x in rest[0]]
                if all(
                    _comparable(v, mn) and (v < mn or v > mx) for v in vals
                ):
                    return False
                continue
            if op == "between":
                lo, hi = _stat_scalar(rest[0]), _stat_scalar(rest[1])
                # BOTH bounds must be comparable with the file's stats
                # before either comparison runs — a hi that normalizes
                # to None (unsupported literal type) or mismatches mn's
                # type must fall back to "keep", not raise at scan time
                if (
                    _comparable(lo, mx)
                    and _comparable(hi, mn)
                    and (mx < lo or mn > hi)
                ):
                    return False
                continue
            v = _stat_scalar(rest[0])
            if not _comparable(v, mn):
                continue
            if op in ("=", "==") and (v < mn or v > mx):
                return False
            if op == "<" and mn >= v:
                return False
            if op == "<=" and mn > v:
                return False
            if op == ">" and mx <= v:
                return False
            if op == ">=" and mx < v:
                return False
        return True

    @staticmethod
    def _file_all_match(stat: dict, filters: Sequence[tuple]) -> bool:
        """Does EVERY row of the file provably satisfy ALL filters?
        The dual of :meth:`_file_matches`, used by ``replace_where`` to
        drop whole files metadata-only (Delta's replaceWhere fast path:
        a partition-aligned predicate retires entire partitions without
        reading a byte). Sound, not complete: returns True only when
        the footer stats PROVE it — stored bounds are conservative
        (string maxima truncate upward, decimal minima round down), so
        ``stored_max <= v`` implies ``true_max <= v`` and every proof
        below stays valid; anything unprovable falls back to False and
        the caller rewrites the file instead.

        NULL semantics: a comparison predicate is NULL (not TRUE) on a
        NULL value, so every comparison proof additionally requires a
        zero null count. Empty files (zero-row write tasks) vacuously
        all-match — dropping one is free and correct."""
        rows = stat.get("rows", 0)
        cols = stat.get("cols", {})
        if rows == 0:
            return True
        for col, op, *rest in filters:
            cs = cols.get(col)
            if cs is None:
                return False  # un-indexed column: nothing provable
            mn, mx, nulls = cs
            if op == "is_null":
                if nulls < rows:
                    return False
                continue
            if op == "is_not_null":
                if nulls > 0:
                    return False
                continue
            # comparison ops are never TRUE on NULL rows
            if nulls > 0 or mn is None or mx is None:
                return False
            if op == "in":
                vals = [_stat_scalar(x) for x in rest[0]]
                if not (
                    _comparable(mn, mx)
                    and mn == mx
                    and any(_comparable(v, mn) and v == mn for v in vals)
                ):
                    return False
                continue
            if op == "between":
                lo, hi = _stat_scalar(rest[0]), _stat_scalar(rest[1])
                if not (
                    _comparable(lo, mn)
                    and _comparable(hi, mx)
                    and mn >= lo
                    and mx <= hi
                ):
                    return False
                continue
            v = _stat_scalar(rest[0])
            if not (_comparable(v, mn) and _comparable(v, mx)):
                return False
            if op in ("=", "==") and not (mn == mx == v):
                return False
            if op == "<" and not (mx < v):
                return False
            if op == "<=" and not (mx <= v):
                return False
            if op == ">" and not (mn > v):
                return False
            if op == ">=" and not (mn >= v):
                return False
        return True

    @staticmethod
    def _filter_expr(filters: Sequence[tuple]) -> Column | None:
        """The exact Column the filter triples denote — always applied
        to the pruned scan, so skipping can only remove I/O, never
        change results (the Delta contract: stats prune files, the
        expression still runs)."""
        exprs = []
        for col, op, *rest in filters:
            c = F.col(col)
            if op in ("=", "=="):
                exprs.append(c == F.lit(rest[0]))
            elif op == "<":
                exprs.append(c < F.lit(rest[0]))
            elif op == "<=":
                exprs.append(c <= F.lit(rest[0]))
            elif op == ">":
                exprs.append(c > F.lit(rest[0]))
            elif op == ">=":
                exprs.append(c >= F.lit(rest[0]))
            elif op == "in":
                exprs.append(c.isin(list(rest[0])))
            elif op == "between":
                exprs.append(c.between(rest[0], rest[1]))
            elif op == "is_null":
                exprs.append(c.isNull())
            elif op == "is_not_null":
                exprs.append(c.isNotNull())
            else:
                raise ValueError(f"unsupported filter op {op!r}; "
                                 f"one of {_FILTER_OPS}")
        return reduce(lambda a, b: a & b, exprs) if exprs else None

    # ------------------------------------------------ stats checkpoint
    @property
    def _ckpt_root(self) -> str:
        return os.path.join(self.location, _CKPT_DIR)

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self._ckpt_root, f"v={version}")

    @staticmethod
    def _ckpt_schema():
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            MapType,
            StringType,
            StructField,
        )

        col_stat = StructType(
            [
                StructField("mn_num", DoubleType()),
                StructField("mx_num", DoubleType()),
                StructField("mn_str", StringType()),
                StructField("mx_str", StringType()),
                StructField("nulls", LongType()),
            ]
        )
        return StructType(
            [
                StructField("file", StringType(), False),
                StructField("rows", LongType(), False),
                StructField("stats", MapType(StringType(), col_stat)),
            ]
        )

    @staticmethod
    def _ckpt_rows(stats: Mapping[str, dict]) -> list[tuple]:
        """Manifest stats dict -> typed checkpoint rows. Numeric bounds
        are stored widened outward to the enclosing doubles (sound:
        widening can only KEEP more), strings verbatim — the num/str
        split is what lets the distributed evaluator reproduce
        ``_comparable`` (a numeric literal never compares against a
        string bound and vice versa)."""
        out = []
        for f, s in stats.items():
            cols = {}
            for c, (mn, mx, nulls) in s.get("cols", {}).items():
                num = isinstance(mn, (int, float))
                cols[c] = (
                    _num_lo(mn) if num else None,
                    _num_hi(mx) if num else None,
                    mn if isinstance(mn, str) else None,
                    mx if isinstance(mx, str) else None,
                    int(nulls),
                )
            out.append((f, int(s.get("rows", 0)), cols))
        return out

    def checkpoint(self, version: int | None = None) -> str:
        """Write the parquet stats checkpoint for a snapshot (Delta's
        ``_last_checkpoint`` + checkpoint.parquet analogue): one row
        per data file with typed min/max/null-count, the input for
        distributed pruning. Written automatically every
        ``_CHECKPOINT_INTERVAL`` commits; idempotent; a checkpoint is a
        rebuildable cache, so a failed write never poisons a committed
        version. Retains the newest two (older ones serve no reader:
        every manifest is self-contained)."""
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        path = self._ckpt_path(v)
        if os.path.isdir(path):
            return path
        df = self.spark.createDataFrame(
            self._ckpt_rows(self._read_stats(v)), self._ckpt_schema()
        )
        tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        # single file at this scale; a deployment at millions of files
        # keeps the write parallel (the reader takes any layout)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent writer won
        import re

        done = [
            e
            for e in os.listdir(self._ckpt_root)
            if re.fullmatch(r"v=\d+", e)
        ]
        for entry in sorted(done, key=lambda e: int(e[2:]))[:-2]:
            shutil.rmtree(os.path.join(self._ckpt_root, entry), ignore_errors=True)
        return path

    def _stats_df(self, version: int) -> DataFrame:
        """Per-file stats as a DataFrame: the version's checkpoint when
        one exists (no driver JSON parse at all), else built from the
        manifest dict (one json read, no per-file predicate loop)."""
        path = self._ckpt_path(version)
        if os.path.isdir(path):
            return self.spark.read.schema(self._ckpt_schema()).parquet(path)
        return self.spark.createDataFrame(
            self._ckpt_rows(self._read_stats(version)), self._ckpt_schema()
        )

    # ------------------------------------------------ bloom-filter index
    @staticmethod
    def _bloom_key(path: str, root: str) -> str:
        """A manifest path in its sidecar's key space: sidecar rows are
        keyed relative to the OWNING table's location, so an absolute
        clone-referenced path is re-relativized against the root's base
        (``<owner>/data/w=X`` → ``<owner>``)."""
        if os.path.isabs(root):
            return os.path.relpath(
                path, os.path.dirname(os.path.dirname(root))
            )
        return path

    def _bloom_dir_for_root(self, root: str) -> str:
        """Sidecar directory of a write root. Own files use the table's
        ``_bloom/``; a shallow clone's absolute source roots resolve to
        the SOURCE table's ``_bloom/`` — clone reads inherit the
        source's bitmaps for free, exactly like its data files."""
        name = os.path.basename(root.rstrip("/"))
        if os.path.isabs(root):
            return os.path.join(
                os.path.dirname(os.path.dirname(root)), _BLOOM_DIR, name
            )
        return os.path.join(self.location, _BLOOM_DIR, name)

    def _write_bloom_sidecars(self, write_dir: str, write_rel: str) -> None:
        """One bloom bitmap per (staged file, indexed column), written
        as sidecar parquet under ``_bloom/<write id>/`` — Databricks
        keeps its bloom index files beside the data the same way.

        The hot path is fully JVM-side: ``xxhash64(col, i)`` for the k
        seed indexes, ``pmod`` into the m-bit domain, then a distinct on
        (file, col, position) whose map-side partial aggregation caps
        the shuffle at m bits' worth of positions per file per column —
        independent of row count. Only the final bit-packing runs in
        Python (Arrow-batched, one group per file/column, O(positions)).
        A file with zero non-null values gets no row: absent rows always
        KEEP at prune time, never wrongly skip."""
        import numpy as np
        import pandas as pd

        phys_fields = {f.name for f in self._physical_schema().fields}
        cols = [
            c
            for c in sorted(self.bloom)
            if c in phys_fields and c not in self.partition_columns
        ]
        if not cols:
            return
        if not any(
            fn.endswith(".parquet")
            for _d, _s, fns in os.walk(write_dir)
            for fn in fns
        ):
            return
        base = (
            self.spark.read.schema(self._physical_schema())
            .option("basePath", write_dir)
            .parquet(write_dir)
            .select(
                F.col("_metadata.file_path").alias("fp"),
                *[F.col(c) for c in cols],
            )
        )
        cfg = {
            c: (int(self.bloom[c]["m"]), int(self.bloom[c]["k"]))
            for c in cols
        }
        parts = []
        for c in cols:
            m, k = cfg[c]
            col = F.col(c)
            poss = F.array(
                *[
                    F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
                    for i in range(k)
                ]
            )
            parts.append(
                base.where(col.isNotNull()).select(
                    "fp",
                    F.lit(c).alias("col"),
                    F.explode(poss).alias("pos"),
                )
            )
        pos_df = reduce(DataFrame.unionByName, parts).distinct()
        loc = os.path.abspath(self.location)

        def pack(key, pdf):
            from urllib.parse import unquote as _unq
            from urllib.parse import urlparse as _up

            fp, colname = key
            m, k = cfg[colname]
            bits = np.zeros(m, dtype=bool)
            bits[pdf["pos"].to_numpy(dtype=np.int64)] = True
            packed = np.packbits(bits, bitorder="little").tobytes()
            p = _unq(_up(fp).path)
            rel = (
                os.path.relpath(p, loc)
                if p.startswith(loc + os.sep)
                else p
            )
            return pd.DataFrame(
                {
                    "file": [rel],
                    "col": [colname],
                    "m": [m],
                    "k": [k],
                    "bits": [packed],
                }
            )

        out = pos_df.groupBy("fp", "col").applyInPandas(
            pack, "file string, col string, m long, k long, bits binary"
        )
        out.write.mode("overwrite").parquet(
            self._bloom_dir_for_root(write_rel)
        )

    @staticmethod
    def _bloom_positions_of(clauses, bloom, types):
        """Module entry for planners that hold only simple-type maps
        (the pushdown reader); same contract as ``_bloom_positions``."""
        return _bloom_positions_py(clauses, bloom, types)

    @staticmethod
    def _bloom_clauses(
        filters: Sequence[tuple], bloom: Mapping[str, dict]
    ) -> list[tuple[str, list]]:
        """The conjuncts a bloom index can serve: ``(col, literals)``
        per ``=``/``IN`` clause on an indexed column, where a file must
        contain at least ONE of the literals to satisfy the clause."""
        out = []
        for t in filters:
            col, op = t[0], t[1]
            if col not in bloom:
                continue
            if op in ("=", "=="):
                lits = [t[2]]
            elif op == "in":
                lits = list(t[2])
            else:
                continue
            if not lits or any(v is None for v in lits):
                continue
            out.append((col, lits))
        return out

    def _bloom_positions(
        self, clauses: list[tuple[str, list]], bloom: Mapping[str, dict]
    ) -> list[tuple[str, int, int, list[list[int]]]]:
        """Bit positions of every clause literal — pure-Python hashing
        that is property-pinned BIT-IDENTICAL to the ``xxhash64(col,
        lit(i))`` expressions the write side used (sources/_xxh64.py,
        tests/test_xxh64.py), so prune planning costs microseconds, no
        Spark job, and works in the pushdown planner's session-less
        subprocess. A literal that doesn't coerce exactly to the column
        type poisons its clause: the clause is dropped (sound)."""
        types = {
            f.name: f.dataType.simpleString()
            for f in self._physical_schema().fields
        }
        return _bloom_positions_py(clauses, bloom, types)

    def _bloom_prune(
        self, filters: Sequence[tuple], kept: list[str], version: int
    ) -> tuple[list[str], int]:
        """Drop files whose bloom bitmaps PROVE no ``=``/``IN`` literal
        can be present. Sound by construction: a missing sidecar,
        missing row, m/k mismatch (config changed after the file was
        written) or unreadable part always keeps the file; the exact
        predicate still runs on whatever is read. Driver loop below the
        distributed threshold, Spark job over the sidecar rows above it
        — O(files), never O(rows)."""
        if not kept:
            return kept, 0
        bloom = self._read_bloom(version)
        if not bloom:
            return kept, 0
        clauses = self._bloom_clauses(filters, bloom)
        if not clauses:
            return kept, 0
        resolved = self._bloom_positions(clauses, bloom)
        if not resolved:
            return kept, 0
        roots: dict[str, list[str]] = {}
        for f in kept:
            roots.setdefault(_write_root(f), []).append(f)
        # Path choice keys on the SIDECAR's indexed-file count, not on
        # len(kept): the driver loop reads every sidecar row under the
        # roots (~1.2 KB of bitmap per file per column), so a 1M-file
        # table whose stats pruning kept only 50k files would still
        # materialize ~GBs driver-side. Footer num_rows is metadata-only
        # — the decision costs one footer read per sidecar part
        # (VERDICT r08 item 4/6).
        indexed = self._bloom_sidecar_rows(roots)
        if max(len(kept), indexed) >= self.distributed_prune_threshold:
            dropped = self._bloom_test_spark(resolved, roots, kept)
        else:
            dropped = self._bloom_test_driver(resolved, roots)
        if not dropped:
            return kept, 0
        return [f for f in kept if f not in dropped], len(dropped)

    def _bloom_sidecar_rows(self, roots: Mapping[str, list[str]]) -> int:
        """Total bitmap rows across the roots' bloom sidecars, from
        parquet FOOTERS only — the driver-memory cost metric that picks
        the prune path. Unreadable parts count 0 (they are skipped by
        both test paths too)."""
        import glob

        import pyarrow.parquet as pq

        total = 0
        for root in roots:
            d = self._bloom_dir_for_root(root)
            if not os.path.isdir(d):
                continue
            for part in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                try:
                    total += pq.ParquetFile(part).metadata.num_rows
                except Exception:  # noqa: BLE001
                    continue
        return total

    def _bloom_test_driver(
        self,
        clauses: list[tuple[str, int, int, list[list[int]]]],
        roots: Mapping[str, list[str]],
    ) -> set[str]:
        import glob

        import pyarrow.parquet as pq

        need = {c for c, _m, _k, _p in clauses}
        side: dict[tuple[str, str], tuple[int, int, bytes]] = {}
        for root, files in roots.items():
            d = self._bloom_dir_for_root(root)
            if not os.path.isdir(d):
                continue
            # sidecar rows key files relative to the OWNING table's
            # location; clone-referenced absolute paths map back into
            # that key space through the root's base
            keymap = {self._bloom_key(f, root): f for f in files}
            for part in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                try:
                    t = pq.read_table(part)
                except Exception:
                    continue  # partial/corrupt sidecar: keep
                for rec in t.to_pylist():
                    f = keymap.get(rec["file"])
                    if rec["col"] in need and f is not None:
                        side[(f, rec["col"])] = (
                            rec["m"], rec["k"], rec["bits"],
                        )
        dropped: set[str] = set()
        for files in roots.values():
            for f in files:
                for col, m, k, pos_lists in clauses:
                    row = side.get((f, col))
                    if row is None:
                        continue
                    rm, rk, bits = row
                    if rm != m or rk != k or bits is None or len(bits) * 8 < m:
                        continue
                    if not any(
                        all((bits[p >> 3] >> (p & 7)) & 1 for p in pl)
                        for pl in pos_lists
                    ):
                        dropped.add(f)
                        break
        return dropped

    def _bloom_test_spark(
        self,
        clauses: list[tuple[str, int, int, list[list[int]]]],
        roots: Mapping[str, list[str]],
        kept: list[str],
    ) -> set[str]:
        """The driver loop as one Spark job over sidecar rows (one row
        per file per column — file-count-sized, like the stats
        checkpoint), for million-file snapshots."""
        dirs = sorted(
            {
                d
                for r in roots
                if os.path.isdir(d := self._bloom_dir_for_root(r))
            }
        )
        if not dirs:
            return set()
        by_col: dict[str, list[tuple[int, int, list[list[int]]]]] = {}
        for col, m, k, pls in clauses:
            by_col.setdefault(col, []).append((m, k, pls))
        sdf = (
            self.spark.read.schema(
                "file string, col string, m long, k long, bits binary"
            )
            .parquet(*dirs)
            .where(F.col("col").isin(*by_col))
        )
        # (sidecar key, manifest name) pairs: identical for own files,
        # re-relativized for clone-referenced absolute paths
        kept_df = self.spark.createDataFrame(
            [
                (self._bloom_key(f, root), f)
                for root, files in roots.items()
                for f in files
            ],
            "file string, name string",
        )
        cand = sdf.join(F.broadcast(kept_df), "file").withColumn(
            "file", F.col("name")
        )

        def verdict(it):
            import pandas as pd

            for pdf in it:
                fails = []
                # plain zip over columns (iterrows is ~40× slower and
                # this loop runs once per sidecar row = per file)
                for fname, cname, rm, rk, bits in zip(
                    pdf["file"], pdf["col"], pdf["m"], pdf["k"],
                    pdf["bits"],
                ):
                    bad = False
                    for m, k, pls in by_col.get(cname, ()):
                        if (
                            rm != m
                            or rk != k
                            or bits is None
                            or len(bits) * 8 < m
                        ):
                            continue
                        if not any(
                            all((bits[p >> 3] >> (p & 7)) & 1 for p in pl)
                            for pl in pls
                        ):
                            bad = True
                            break
                    if bad:
                        fails.append(fname)
                yield pd.DataFrame({"file": fails})

        return {
            r.file
            for r in cand.mapInPandas(verdict, "file string").collect()
        }

    @staticmethod
    def _keep_expr(filters: Sequence[tuple]) -> Column:
        """``_file_matches`` as a Column over the checkpoint schema —
        same keep/prune decision for every filter shape (property-
        tested equal to the Python loop), evaluated by executors.
        Null-propagation does the 'unknown -> keep' work: a missing
        column, absent bounds, or a kind mismatch yields NULL, and the
        final ``coalesce(prune, false)`` keeps the file."""
        rows = F.col("rows")
        prune = F.lit(False) if not filters else (rows == 0)
        for col, op, *rest in filters:
            e = F.col("stats")[col]
            nulls = e["nulls"]
            all_null = (
                e["mn_num"].isNull()
                & e["mx_num"].isNull()
                & e["mn_str"].isNull()
                & e["mx_str"].isNull()
                & (nulls >= rows)
            )

            def bounds(lit):
                if isinstance(lit, str):
                    return e["mn_str"], e["mx_str"], F.lit(lit), F.lit(lit)
                return (
                    e["mn_num"],
                    e["mx_num"],
                    F.lit(_num_lo(lit)),
                    F.lit(_num_hi(lit)),
                )

            if op == "is_null":
                p = nulls == 0
            elif op == "is_not_null":
                p = all_null
            elif op == "in":
                vals = [_stat_scalar(x) for x in rest[0]]
                kinds = {isinstance(v, str) for v in vals}
                if not vals:
                    # empty IN list matches nothing: prune every file
                    # whose bounds are known (the driver loop's all()
                    # over the empty list) or that is all-null
                    p = (
                        all_null
                        | e["mn_num"].isNotNull()
                        | e["mn_str"].isNotNull()
                    )
                elif None in vals or len(kinds) != 1:
                    p = F.lit(False)  # some val un-comparable: keep
                else:
                    outside = F.lit(True)
                    mn = None
                    for v in vals:
                        mn, mx, lo, hi = bounds(v)
                        outside = outside & ((hi < mn) | (lo > mx))
                    p = all_null | (mn.isNotNull() & outside)
            elif op == "between":
                lo_l, hi_l = _stat_scalar(rest[0]), _stat_scalar(rest[1])
                if lo_l is None or hi_l is None:
                    p = F.lit(False)
                else:
                    _, mx1, lo1, _ = bounds(lo_l)
                    mn2, _, _, hi2 = bounds(hi_l)
                    # BOTH bounds comparable before either comparison
                    # counts (mirrors the driver loop's guard)
                    p = all_null | (
                        mx1.isNotNull()
                        & mn2.isNotNull()
                        & ((mx1 < lo1) | (mn2 > hi2))
                    )
            else:
                v = _stat_scalar(rest[0])
                if v is None:
                    p = F.lit(False)
                else:
                    mn, mx, lo, hi = bounds(v)
                    if op in ("=", "=="):
                        cmp = (hi < mn) | (lo > mx)
                    elif op == "<":
                        cmp = mn >= hi
                    elif op == "<=":
                        cmp = mn > hi
                    elif op == ">":
                        cmp = mx <= lo
                    else:  # >=
                        cmp = mx < lo
                    p = all_null | (mn.isNotNull() & cmp)
            prune = prune | p
        return ~F.coalesce(prune, F.lit(False))

    def _prune_distributed(self, filters, entries, version: int):
        """The prune decision as ONE Spark job over the stats
        checkpoint — no per-file work on the driver. At millions of
        files (100 TB) the Python loop in ``_prune`` becomes a
        planning-latency cliff; this path is Delta's answer (skipping
        predicates evaluated over the checkpoint's add-file stats),
        and it returns exactly the driver loop's result."""
        entry_dirs = set(entries.values())
        rels_df = self.spark.createDataFrame(
            [(d,) for d in sorted(entry_dirs)], "rel string"
        )
        sdf = self._stats_df(version).withColumn(
            "dir", F.expr("substring_index(file, '/', size(split(file, '/')) - 1)")
        )
        # an entry rel covers a file when it is the file's leaf dir OR
        # the file itself (per-file carry entry)
        known = sdf.join(
            F.broadcast(rels_df),
            (F.col("dir") == F.col("rel")) | (F.col("file") == F.col("rel")),
        )
        agg = known.agg(
            F.count("*").alias("files"),
            F.coalesce(F.sum("rows"), F.lit(0)).alias("rows_total"),
            F.collect_set("rel").alias("dirs"),
            F.sum(F.when(self._keep_expr(filters), F.col("rows"))).alias(
                "rows_kept"
            ),
        ).collect()[0]
        pairs = [
            (r.file, r.rows)
            for r in known.filter(self._keep_expr(filters))
            .select("file", "rows")
            .collect()
        ]
        kept, bloom_dropped = self._bloom_prune(
            filters, [f for f, _n in pairs], version
        )
        if bloom_dropped:
            kset = set(kept)
            rows_kept = sum(n for f, n in pairs if f in kset)
        else:
            rows_kept = int(agg.rows_kept or 0)
        legacy_dirs = entry_dirs - set(agg.dirs)
        return kept, legacy_dirs, int(agg.files), int(agg.rows_total), int(
            rows_kept
        ), bloom_dropped

    def _prune(self, filters: Sequence[tuple], version: int | None):
        """(kept files, legacy dirs, files_total, rows_total,
        rows_kept_bound) for a version — driver loop below the
        distributed threshold, checkpoint job above it."""
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        filters = self._phys_triples(filters)  # stats live in physical space
        if self.generated:
            # filters on a generation SOURCE imply filters on the
            # generated (partition) column — free partition pruning for
            # `WHERE ts …` over a `d = CAST(ts AS DATE)` layout
            filters = list(filters) + _derived_generated_triples(
                filters, self.generated
            )
        entries = self._read_manifest(v)
        stats = self._read_stats(v)
        if len(stats) >= self.distributed_prune_threshold:
            return self._prune_distributed(filters, entries, v)
        entry_dirs = set(entries.values())
        # files the manifest covers = stats keys under its entry dirs
        # (or equal to a file-granular carry entry); an entry with no
        # stats (pre-stats manifest) falls back to the whole-rel scan,
        # never skipped
        known = [f for f in stats if _rel_covers(entry_dirs, f)]
        covered_rels = {
            f if f in entry_dirs else os.path.dirname(f) for f in known
        }
        legacy_dirs = entry_dirs - covered_rels
        kept = [f for f in known if self._file_matches(stats[f], filters)]
        kept, bloom_dropped = self._bloom_prune(filters, kept, v)
        return (
            kept,
            legacy_dirs,
            len(known),
            sum(stats[f].get("rows", 0) for f in known),
            sum(stats[f].get("rows", 0) for f in kept),
            bloom_dropped,
        )

    def scan(
        self, filters: Sequence[tuple] = (), version: int | None = None
    ) -> DataFrame:
        """Stats-pruned read: Delta data skipping for the manifest MVCC.

        ``filters`` are conjunctive triples ``(column, op, value)`` with
        op ∈ {=, <, <=, >, >=, in, between, is_null, is_not_null} —
        the same shape DataSourceV2 pushes down. Files whose footer
        min/max/null-count PROVE no row can match are never opened; the
        exact predicate is still applied to whatever is read, so
        ``scan(f)`` ≡ ``read().filter(f)`` row-for-row. At 100 TB this
        is the difference between touching 3 files and 30 000 for a
        date-range query over a Z-ordered table (``compact(zorder_by=…)``).
        """
        for t in filters:
            if len(t) < 2 or t[1] not in _FILTER_OPS:
                raise ValueError(f"bad filter triple {t!r}")
        v = self.current_version() if version is None else version
        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None:
            raise ValueError(f"table {self.name}: no schema available")
        cols = [f.name for f in self.schema.fields]
        sel = self._logical_select()
        kept, legacy_dirs, _total, _rows, _rows_kept, _bloomed = self._prune(
            filters, v
        )
        paths = sorted(kept) + sorted(legacy_dirs)
        cond = self._filter_expr(filters)
        if not paths:
            df = self.spark.createDataFrame([], self.schema)
            return df.filter(cond) if cond is not None else df
        dv, _ = self._read_dv(v)
        groups: dict[str, list[str]] = {}
        for rel in paths:
            groups.setdefault(_write_root(rel), []).append(rel)
        scans = []
        for wroot, rels in sorted(groups.items()):
            reader = self.spark.read.schema(self._physical_schema()).option(
                "basePath", os.path.join(self.location, wroot)
            )
            base = reader.parquet(
                *[os.path.join(self.location, r) for r in rels]
            )
            if dv:
                base = base.select(
                    *sel,
                    F.col("_metadata.file_path").alias("__mt_path"),
                    F.col("_metadata.row_index").alias("__mt_pos"),
                )
            else:
                base = base.select(*sel)
            scans.append(base)
        df = reduce(DataFrame.unionByName, scans)
        if dv:
            # DV rows are invisible to scan too (merge-on-read read side)
            # __mt_key materialized once via the Generate trick — see
            # _scan_rels (round 16)
            df = (
                df.select(
                    *[c for c in df.columns if c != "__mt_path"],
                    F.explode(F.array(self._file_key())).alias("__mt_key"),
                )
                .join(
                    self._dv_rows(dv).select(
                        F.col("file").alias("__mt_key"),
                        F.col("pos").alias("__mt_pos"),
                    ),
                    ["__mt_key", "__mt_pos"],
                    "left_anti",
                )
                .select(*cols)
            )
        return df.filter(cond) if cond is not None else df

    def skipping_report(
        self, filters: Sequence[tuple] = (), version: int | None = None
    ) -> dict:
        """How much a ``scan`` with these filters would prune — the
        observable for tests and for SCALE.md measurements."""
        kept, legacy_dirs, total, rows_total, rows_kept, bloomed = self._prune(
            filters, version
        )
        return {
            "files_total": total + len(legacy_dirs),
            "files_kept": len(kept) + len(legacy_dirs),
            "rows_total": rows_total,
            "rows_kept_bound": rows_kept,
            "files_bloom_pruned": bloomed,
        }

    def metadata_aggregate(self, *columns: str, version: int | None = None) -> dict:
        """Metadata-only COUNT/MIN/MAX — the Delta/Iceberg optimization
        where ``SELECT count(*), min(c), max(c)`` is answered from the
        snapshot's file statistics without reading ANY data: O(manifest)
        instead of O(table), the difference between milliseconds and a
        full scan at 100 TB.

        Returns ``{"count": n, "<col>": {"min": …, "max": …,
        "null_count": …}}``. Raises if any file in the snapshot lacks
        stats (pre-stats manifest) or lacks the column's bounds while
        holding non-null rows — falling back silently to a wrong answer
        is worse than telling the caller to scan (Delta likewise only
        uses this path when stats cover every file). min/max are the
        stored stat scalars: dates/timestamps come back as ISO strings,
        exactly as ``scan`` compares them.

        min/max are reported ONLY for types whose parquet footer stats
        are exact values (numeric/bool/date/timestamp). String/binary
        footers may hold TRUNCATED bounds (parquet caps long binary
        stats and bumps the last byte of a truncated max) — sound for
        pruning, but ``max(s)`` could come back as a value not present
        in the table. Such columns return ``{"null_count": …}`` alone
        (null counts are always exact); asking the dict for a bound
        fails loud instead of answering wrong — scan for those."""
        from pyspark.sql.types import (
            BooleanType,
            DateType,
            NumericType,
            TimestampNTZType,
            TimestampType,
        )

        exact_types = (
            NumericType, BooleanType, DateType, TimestampType, TimestampNTZType,
        )
        v = self.current_version() if version is None else version
        entries = self._read_manifest(v)
        stats = self._read_stats(v)
        entry_dirs = set(entries.values())
        files = [f for f in stats if _rel_covers(entry_dirs, f)]
        covered = {
            f if f in entry_dirs else os.path.dirname(f) for f in files
        }
        if entry_dirs - covered:
            raise ValueError(
                f"table {self.name}: snapshot v{v} has files without "
                "stats — metadata aggregate unavailable, scan instead"
            )
        # DV-aware COUNT: footer rows minus the per-file deleted-row
        # counts the delete commits recorded (Delta: numRecords −
        # numDeletedRecords) — still metadata-only and still exact
        dv, dv_n = self._read_dv(v)
        out: dict = {
            "count": sum(stats[f]["rows"] for f in files)
            - sum(n for f, n in dv_n.items() if f in stats)
        }
        fields = {f.name: f for f in (self.schema.fields if self.schema else [])}
        for col in columns:
            if col not in fields:
                raise ValueError(
                    f"table {self.name}: unknown column {col!r}"
                )
            if dv:
                # a deleted row may HOLD the min/max/null — footer
                # bounds are no longer exact aggregates for any file
                # of a DV'd snapshot; fail loud, scan instead
                raise ValueError(
                    f"table {self.name}: snapshot v{v} carries deletion "
                    f"vectors — min/max/null_count of {col!r} are not "
                    "metadata-derivable, scan instead (COUNT alone is "
                    "exact via metadata_aggregate())"
                )
            bounds_exact = isinstance(fields[col].dataType, exact_types)
            mn = mx = None
            nulls = 0
            for f in files:
                s = stats[f]
                cs = s.get("cols", {}).get(self._phys(col))
                if cs is None:
                    if s.get("rows", 0):
                        raise ValueError(
                            f"table {self.name}: file {f} has no stats for "
                            f"column {col!r} — metadata aggregate "
                            "unavailable, scan instead"
                        )
                    continue
                fmn, fmx, fnull = cs
                nulls += fnull
                if fmn is not None:
                    mn = fmn if mn is None else min(mn, fmn)
                if fmx is not None:
                    mx = fmx if mx is None else max(mx, fmx)
            out[col] = (
                {"min": mn, "max": mx, "null_count": nulls}
                if bounds_exact
                else {"null_count": nulls}
            )
        return out

    def compact(
        self,
        zorder_by: Sequence[str] = (),
        target_files: int | None = None,
        bits: int = 8,
    ) -> int:
        """Rewrite the whole table into a single write root (collapses
        the union of scans ``read`` builds after many partial writes).

        With ``zorder_by`` this is OPTIMIZE ZORDER BY: each listed
        column (numeric/date/timestamp) is rank-bucketed into ``2^bits``
        buckets via approx-quantile boundaries, the per-column bucket
        ids are bit-interleaved into a Z-value, and rows are
        range-partitioned and sorted by it — so every output file covers
        a small hyper-rectangle of the key space and the footer stats
        (``scan``) prune multi-column range queries that a single-column
        sort could only prune on its leading key. Boundary computation
        is one approxQuantile pass per column (sampled, driver gets
        ≤2^bits scalars); the rewrite is one range-shuffle — the same
        cost shape as Delta's OPTIMIZE."""
        track = self._row_tracking_enabled()
        if track:
            # row tracking: the rewrite MATERIALIZES each row's id AND
            # last-modified version into the new files (__row_id /
            # __row_ver) so both survive the move — a maintenance
            # rewrite modifies no row
            df = self._track_read()
        else:
            df = self.read()
        if not zorder_by:
            return self._stage_and_commit(
                df, replace_all=True, op="OPTIMIZE",
                row_ids_materialized=track,
            )
        ordered = self._zorder_frame(df, zorder_by, bits, target_files)
        # sort=False: the Z-order IS the layout; sort_columns would undo it
        return self._stage_and_commit(
            ordered, replace_all=True, sort=False, op="OPTIMIZE ZORDER",
            row_ids_materialized=track,
        )

    def _zorder_frame(
        self,
        df: DataFrame,
        zorder_by: Sequence[str],
        bits: int = 8,
        target_files: int | None = None,
    ) -> DataFrame:
        """``df`` Z-ordered: each listed column rank-bucketed into
        ``2^bits`` buckets via approx-quantile boundaries, bucket ids
        bit-interleaved, rows range-partitioned + sorted by the
        Z-value. One approxQuantile pass per column (driver gets
        ≤2^bits scalars), one range shuffle — Delta's OPTIMIZE cost
        shape. Shared by full ZORDER and incremental clustering."""
        n_files = target_files or max(
            8, int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        )
        qs = [i / (1 << bits) for i in range(1, 1 << bits)]
        buckets = []
        for c in zorder_by:
            dt = dict(df.dtypes)[c]
            num = (
                F.col(c).cast("double")
                if dt not in ("date", "timestamp", "timestamp_ntz")
                else F.unix_micros(F.col(c).cast("timestamp")).cast("double")
            )
            probe = df.select(num.alias("__q")).where(F.col("__q").isNotNull())
            bounds = sorted(set(probe.stat.approxQuantile("__q", qs, 0.01)))
            arr = F.array([F.lit(float(b)) for b in bounds])
            # bucket = #boundaries strictly below the value; NULL → 0
            buckets.append(
                F.size(F.filter(arr, lambda b: b < num)).cast("long")
            )
        k = len(buckets)
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for j, b in enumerate(buckets):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                        bit * k + (k - 1 - j),
                    )
                )
        # keep every input column (a row-tracking rewrite carries the
        # materialized __row_id alongside the schema columns)
        keep = list(df.columns)
        return (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .select(*keep)
        )

    def cluster(
        self, bits: int = 8, target_files: int | None = None
    ) -> int:
        """Incremental clustering OPTIMIZE — the liquid-clustering
        shape: only entry dirs NOT yet clustered (new appends, merge
        remainders, streaming micro-batches since the last run) are
        Z-order-rewritten on the ``cluster_by`` keys; dirs the manifest
        records as clustered carry over byte-untouched with their
        stats. The 100 TB argument: OPTIMIZE cost is proportional to
        data written SINCE the last OPTIMIZE, never to table size — a
        nightly run on a 100 TB table touches one night's ingest.
        DVs on rewritten dirs are materialized (their rows drop out);
        DVs on clustered dirs carry over. No-op (commit-free) when
        everything is already clustered. Changing the keys via
        :meth:`set_cluster_by` resets the clustered set, so the next
        run re-lays the whole table out (Databricks semantics).

        Note the boundary estimate: quantiles are computed over the
        UNCLUSTERED slice only — each incremental run lays out its own
        slice optimally rather than re-bucketing history, which is
        exactly the trade liquid clustering makes (global optimality
        is recovered by a full rewrite, never required)."""
        if not self.cluster_by:
            raise ValueError(
                f"table {self.name}: no CLUSTER BY keys declared; "
                "set_cluster_by(...) first (or use compact(zorder_by=…))"
            )
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        entries = self._read_manifest(v)
        all_rels = set(entries.values())
        todo = sorted(all_rels - set(self.clustered_rels))
        if not todo:
            return v  # fully clustered: commit-free no-op
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        dv, _ = self._read_dv(v)
        touched_dv = {
            f: d for f, d in dv.items() if _rel_covers(set(todo), f)
        }
        track = self._row_tracking_enabled()
        live = self._scan_rels(
            todo, need_meta=bool(touched_dv) or track, with_row_col=track
        )
        if track:
            # row tracking: ids + last-modified versions materialize
            # into the clustered rewrite (no row is modified)
            live = (
                self._attach_row_ids(live, v)
                .withColumnRenamed("_row_id", "__row_id")
                .withColumnRenamed("_row_commit_version", "__row_ver")
            )
        if touched_dv:
            live = live.join(
                self._dv_rows(touched_dv).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        ordered = self._zorder_frame(
            live.select(
                *([*cols, "__row_id", "__row_ver"] if track else cols)
            ),
            self.cluster_by, bits, target_files,
        )
        # sort=False: the Z-order IS the layout
        # declared region = the unclustered dirs' partitions: the
        # nightly clustering increment rebases over concurrent ingest
        # into OTHER partitions (same maintenance-vs-ingest shape as
        # OPTIMIZE); a commit touching a partition being re-laid-out
        # still conflicts (conservative at key granularity)
        todo_keys = {
            _base_key(k)
            for k, rel in entries.items()
            if rel in set(todo)
        }
        return self._stage_and_commit(
            ordered,
            replace_all=False,
            append_only=True,
            sort=False,
            op="OPTIMIZE CLUSTER",
            drop_rels=set(todo),
            mark_clustered=True,
            row_ids_materialized=track,
            read_version=v,
            read_keys=todo_keys,
        )

    def _base_matches(self, base_key: str, filters: Sequence[tuple]) -> bool:
        """Does a manifest base key's partition tuple satisfy partition-
        predicate triples? Values are encoded with ``_partition_stat``
        (min=max) and evaluated by the SAME ``_file_matches`` logic the
        scan pruner uses — one semantics for every partition-predicate
        consumer. Unknown/unparseable values conservatively match."""
        if not filters:
            return True
        vals = json.loads(base_key)
        ptypes = {
            f.name: f.dataType.simpleString()
            for f in (self.schema.fields if self.schema else [])
            if f.name in self.partition_columns
        }
        cols = {}
        for c, raw in zip(self.partition_columns, vals):
            ent = self._partition_stat(ptypes.get(c, "string"), raw, 1)
            if ent is not None:
                cols[c] = ent
        return self._file_matches({"rows": 1, "cols": cols}, filters)

    def optimize(
        self,
        min_small_files: int = 2,
        target_bytes: int = 128 << 20,
        where: Sequence[tuple] = (),
    ) -> int:
        """Delta ``OPTIMIZE`` (without ZORDER): bin-pack ONLY the
        partitions that have accumulated ≥ ``min_small_files`` data
        files under ``target_bytes`` — their dirs are rewritten into
        one fresh write per partition (base-key replacement retires the
        append-suffixed entries too), every other partition's entries,
        stats and deletion vectors carry over byte-untouched. No-op
        (commit-free) when nothing qualifies. ``compact()`` remains the
        whole-table rewrite; this is the incremental maintenance shape
        that matters at 100 TB, where a streaming sink leaves a few
        hot partitions fragmented and a full rewrite is off the table.

        ``where`` (filter triples over PARTITION columns — Delta's
        ``OPTIMIZE t WHERE date >= …``) restricts which partitions are
        even considered: the nightly maintenance job compacts the hot
        recent partitions and never touches (or lists) the cold ones."""
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        if self.schema is None:
            self.schema = self._load_schema()
        for t in where:
            if t[0] not in self.partition_columns:
                raise ValueError(
                    f"OPTIMIZE WHERE supports partition columns only; "
                    f"{t[0]!r} is not one of {self.partition_columns}"
                )
        entries = self._read_manifest(v)
        if where:
            entries = {
                k: rel
                for k, rel in entries.items()
                if self._base_matches(_base_key(k), where)
            }
        small_by_base: dict[str, int] = {}
        bytes_by_base: dict[str, int] = {}
        rels_by_base: dict[str, list[str]] = {}
        for k, rel in entries.items():
            base = _base_key(k)
            rels_by_base.setdefault(base, []).append(rel)
            abs_dir = os.path.join(self.location, rel)
            if _rel_is_file(rel):
                # a per-file carry entry is a single (typically small)
                # file — a natural compaction candidate
                try:
                    sz = os.path.getsize(abs_dir)
                except OSError:
                    continue
                bytes_by_base[base] = bytes_by_base.get(base, 0) + sz
                if sz < target_bytes:
                    small_by_base[base] = small_by_base.get(base, 0) + 1
                continue
            for dirpath, _dirs, fns in os.walk(abs_dir):
                for fn in fns:
                    if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                        continue
                    sz = os.path.getsize(os.path.join(dirpath, fn))
                    bytes_by_base[base] = bytes_by_base.get(base, 0) + sz
                    if sz < target_bytes:
                        small_by_base[base] = small_by_base.get(base, 0) + 1
        qualify = {
            b for b, n in small_by_base.items() if n >= min_small_files
        }
        if not qualify:
            return v
        rels = {rel for b in qualify for rel in rels_by_base[b]}
        total_bytes = sum(bytes_by_base.get(b, 0) for b in qualify)
        cols = [f.name for f in self.schema.fields]
        dv, _ = self._read_dv(v)
        touched_dv = {
            f: d for f, d in dv.items() if _rel_covers(rels, f)
        }
        track = self._row_tracking_enabled()
        live = self._scan_rels(
            sorted(rels),
            need_meta=bool(touched_dv) or track,
            with_row_col=track,
        )
        if track:
            # materialize each rewritten row's durable id and
            # last-modified version (row tracking): both must survive
            # the bin-pack move
            live = (
                self._attach_row_ids(live, v)
                .withColumnRenamed("_row_id", "__row_id")
                .withColumnRenamed("_row_commit_version", "__row_ver")
            )
        out_cols = [*cols, "__row_id", "__row_ver"] if track else cols
        if touched_dv:
            live = live.join(
                self._dv_rows(touched_dv).select(
                    F.col("file").alias("__mt_key"),
                    F.col("pos").alias("__mt_pos"),
                ),
                ["__mt_key", "__mt_pos"],
                "left_anti",
            )
        live = live.select(*out_cols)
        # bin-pack the rewrite: ~target-sized output files (range-
        # partitioned so each hive partition's rows stay contiguous —
        # one file per partition until it outgrows the target), else
        # the rewrite re-fragments and the next OPTIMIZE loops
        import math as _math

        n_out = max(1, _math.ceil(total_bytes / target_bytes))
        range_keys = [F.col(c) for c in self.partition_columns] + [
            F.monotonically_increasing_id()
        ]
        live = live.repartitionByRange(n_out, *range_keys)
        # declared read/write region = exactly the qualifying
        # partitions: maintenance racing a MERGE into OTHER partitions
        # rebases instead of raising (the 100 TB shape — nightly
        # OPTIMIZE and streaming ingest run concurrently); a racing
        # append INTO a qualifying partition still conflicts, because
        # base-key replacement would otherwise silently retire the
        # appended entry without its rows being in the rewrite
        return self._stage_and_commit(
            live, replace_all=False, sort=bool(self.sort_columns),
            op="OPTIMIZE",
            row_ids_materialized=track,
            read_version=v,
            read_keys=qualify,
        )

    def replace_table_content(
        self, df: DataFrame, op: str = "CREATE OR REPLACE TABLE"
    ) -> int:
        """The commit half of ``CREATE OR REPLACE TABLE``: stage ``df``
        as the complete new content under THIS handle's (freshly reset)
        schema/partitioning/metadata — the previous version's
        constraints, properties, defaults, clustering and indexes do
        NOT re-bind (Delta's REPLACE semantics: a new table definition
        in one transaction). History chains normally, so RESTORE
        returns to the pre-replace table, old metadata included (every
        manifest carries its own). Blocked on append-only tables like
        any other row-removing commit."""
        self._check_append_only("CREATE OR REPLACE TABLE")
        df = self._apply_generated(df)
        df, id_claim = self._assign_identity(df)
        cols = [f.name for f in (self.schema or df.schema).fields]
        return self._stage_and_commit(
            df.select(*cols),
            replace_all=True,
            op=op,
            identity_claim=id_claim,
            reset_metadata=True,
        )

    def truncate(self) -> int:
        """Delta ``TRUNCATE TABLE`` — remove every row METADATA-ONLY:
        the new manifest holds zero entries (the old files age out with
        their manifests via vacuum); schema, constraints, properties,
        clustering keys and identity watermarks all survive. At any
        table size this is one small JSON write."""
        self._check_append_only("TRUNCATE")
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        self._write_manifest(
            v + 1, {}, {}, self._read_txn(v), op="TRUNCATE",
            row_high=self._read_row_base(v)[2],
        )
        self._commit(v + 1)
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        return v + 1

    def reorg(self, min_dv_fraction: float = 0.0) -> int:
        """Delta ``REORG TABLE … APPLY (PURGE)`` parity: materialize
        deletion vectors SELECTIVELY — rewrite only the entry dirs whose
        deleted-row fraction reaches ``min_dv_fraction``, dropping their
        vectors; every other dir (and its DV) carries over untouched.
        The middle ground between per-delete copy-on-write and a full
        ``compact()``: at 100 TB a weekly ``reorg(0.1)`` rewrites only
        the ~10%-dead files, keeping read-side anti-join state small
        without ever touching cold data. No-op (commit-free) when no
        dir qualifies."""
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        dv, dv_n = self._read_dv(v)
        if not dv:
            return v
        self._check_partition_layout(v)
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        stats = self._read_stats(v)
        # group by covering manifest REL, not raw dirname: a file
        # carried as its own entry (per-file CoW) purges alone — a
        # dirname group would scan its whole former dir, resurrecting
        # retired neighbor files still on disk
        man_rels = set(self._read_manifest(v).values())

        def _cover(f: str) -> str:
            return f if f in man_rels else os.path.dirname(f)

        dead_by_dir: dict[str, int] = {}
        rows_by_dir: dict[str, int] = {}
        for f, s in stats.items():
            rows_by_dir[_cover(f)] = rows_by_dir.get(
                _cover(f), 0
            ) + int(s.get("rows", 0))
        for f, n in dv_n.items():
            dead_by_dir[_cover(f)] = dead_by_dir.get(
                _cover(f), 0
            ) + int(n)
        purge_dirs = {
            d
            for d, dead in dead_by_dir.items()
            if dead > 0
            and dead >= min_dv_fraction * max(1, rows_by_dir.get(d, dead))
        }
        if not purge_dirs:
            return v
        # visible rows of the purged rels (their DVs applied), restaged
        track = self._row_tracking_enabled()
        live = self._scan_rels(
            sorted(purge_dirs), need_meta=True, with_row_col=track
        )
        purged_dv = {f: d for f, d in dv.items() if _cover(f) in purge_dirs}
        live = live.join(
            self._dv_rows(purged_dv).select(
                F.col("file").alias("__mt_key"), F.col("pos").alias("__mt_pos")
            ),
            ["__mt_key", "__mt_pos"],
            "left_anti",
        )
        if track:
            # REORG PURGE preserves row ids and commit versions like
            # every other rewrite (round 13 — this was the last
            # re-minting path): resolve each survivor's id
            # (materialized wins, else base + position) and
            # MATERIALIZE both into the restaged files
            live = (
                self._attach_row_ids(live, v)
                .withColumnRenamed("_row_id", "__row_id")
                .withColumnRenamed("_row_commit_version", "__row_ver")
                .select(*cols, "__row_id", "__row_ver")
            )
        else:
            live = live.select(*cols)
        write_rel = f"data/w={v + 1}-{uuid.uuid4().hex[:8]}"
        write_dir = os.path.join(self.location, write_rel)
        if self.sort_columns:
            live = live.sortWithinPartitions(*self.sort_columns)
        writer = self._to_physical(live).write.mode("overwrite")
        if self.partition_columns:
            writer = writer.partitionBy(*self.partition_columns)
        writer.parquet(write_dir)
        entries = {
            k: rel
            for k, rel in self._read_manifest(v).items()
            if rel not in purge_dirs
        }
        # append-keyed: a partition may keep other (unpurged) entries
        entries.update(
            {
                f"{k}@{write_rel}": rel
                for k, rel in self._walk_staged(write_dir, write_rel).items()
            }
        )
        new_stats = {
            f: s for f, s in stats.items() if _cover(f) not in purge_dirs
        }
        staged_stats = self._collect_file_stats(write_dir)
        new_stats.update(staged_stats)
        new_dv = {f: d for f, d in dv.items() if _cover(f) not in purge_dirs}
        new_n = {f: n for f, n in dv_n.items() if f in new_dv}
        # row tracking: the restaged files carry every survivor's id
        # and commit version IN-DATA (materialized above) — positions
        # shift but ids don't, Delta's preserve-by-materializing rule
        rb, rm, rh, rv = self._carried_row_base(
            v, new_stats,
            materialized=(set(staged_stats) if track else ()),
        )
        try:
            self._write_manifest(
                v + 1,
                entries,
                new_stats,
                self._read_txn(v),
                op="REORG (PURGE)",
                dv=new_dv,
                dv_n=new_n,
                row_base=rb,
                row_mat=rm,
                row_high=rh,
                row_ver=rv,
            )
        except ConcurrentWriteError:
            shutil.rmtree(write_dir, ignore_errors=True)
            raise
        self._commit(v + 1)
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        return v + 1

    def add_column(self, name: str, data_type: str) -> int:
        """``ALTER TABLE … ADD COLUMN name type`` — a metadata-only
        commit (Delta parity): no data file changes; files written
        before the evolution lack the column and every read path fills
        NULL for it (the same parquet schema-evolution mechanics
        ``merge_schema`` relies on). The new column is nullable — a
        NOT-NULL column would instantly invalidate existing rows."""
        from pyspark.sql.types import _parse_datatype_string

        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None:
            raise ValueError(f"table {self.name}: no schema available")
        if name in {f.name for f in self.schema.fields}:
            raise ValueError(f"table {self.name}: column {name!r} already exists")
        if name in set(self.renames.values()):
            # the name is the PHYSICAL identity of a renamed column:
            # adding it would put two same-named fields in the parquet
            # read schema (Delta's column-mapping rule likewise blocks
            # reusing a physical name)
            raise ValueError(
                f"table {self.name}: {name!r} is the physical name of a "
                "renamed column; pick another name"
            )
        self.schema = StructType(
            self.schema.fields
            + [StructField(name, _parse_datatype_string(data_type), True)]
        )
        return self._commit_metadata_only(op=f"ADD COLUMN {name}")

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE … DROP COLUMN name`` — metadata-only: the
        column leaves the schema (reads project it away; the bytes in
        old files become dead weight until a ``compact()``, exactly
        Delta-with-column-mapping's behavior). Refuses to drop a
        partition/sort column (the layout depends on it) or a column a
        CHECK constraint references (Delta errors likewise)."""
        import re as _re

        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None:
            raise ValueError(f"table {self.name}: no schema available")
        if name not in {f.name for f in self.schema.fields}:
            raise ValueError(f"table {self.name}: no column {name!r}")
        if name in (self.partition_columns or []) or name in (
            self.sort_columns or []
        ):
            raise ValueError(
                f"table {self.name}: {name!r} is a partition/sort column"
            )
        for cname, expr in (self.constraints or {}).items():
            if _re.search(rf"\b{_re.escape(name)}\b", expr):
                raise ValueError(
                    f"table {self.name}: column {name!r} is referenced by "
                    f"CHECK constraint {cname!r} ({expr}) — drop it first"
                )
        self.schema = StructType(
            [f for f in self.schema.fields if f.name != name]
        )
        return self._commit_metadata_only(op=f"DROP COLUMN {name}")

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE … RENAME COLUMN old TO new`` — metadata-only,
        via column mapping (Delta columnMapping.mode=name): the column's
        PHYSICAL name in data files never changes; the commit redirects
        the logical name through ``self.renames``. Old-version reads,
        RESTORE and the change feed all keep working because every read
        path resolves logical → physical through the CURRENT mapping
        (rename is retroactive on read, exactly Delta's behavior).
        Refuses partition/sort columns (the directory layout spells
        their names) and columns a CHECK constraint references (the
        stored expression would dangle — Delta errors likewise)."""
        import re as _re

        if self.schema is None:
            self.schema = self._load_schema()
        if self.schema is None:
            raise ValueError(f"table {self.name}: no schema available")
        names = {f.name for f in self.schema.fields}
        if old not in names:
            raise ValueError(f"table {self.name}: no column {old!r}")
        if new in names:
            raise ValueError(
                f"table {self.name}: column {new!r} already exists"
            )
        if new in {
            phys for log, phys in self.renames.items() if log != old
        }:
            # another column already occupies that PHYSICAL identity —
            # the physical read schema would hold duplicate names
            raise ValueError(
                f"table {self.name}: {new!r} is the physical name of a "
                "different renamed column; pick another name"
            )
        if old in (self.partition_columns or []) or old in (
            self.sort_columns or []
        ):
            raise ValueError(
                f"table {self.name}: {old!r} is a partition/sort column"
            )
        for cname, expr in (self.constraints or {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", expr):
                raise ValueError(
                    f"table {self.name}: column {old!r} is referenced by "
                    f"CHECK constraint {cname!r} ({expr}) — drop it first"
                )
        for g, spec in (self.generated or {}).items():
            if old == g or _re.search(
                rf"\b{_re.escape(old)}\b", spec["expr"]
            ):
                # the stored generation expression (and its derived
                # pruning) would dangle — Delta errors likewise
                raise ValueError(
                    f"table {self.name}: column {old!r} is part of "
                    f"generated column {g!r} ({spec['expr']})"
                )
        physical = self.renames.pop(old, old)
        if physical != new:
            self.renames[new] = physical
        self.schema = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in self.schema.fields
            ]
        )
        return self._commit_metadata_only(
            op=f"RENAME COLUMN {old} TO {new}"
        )

    def _commit_time(self, version: int) -> float:
        """Commit time of a version: the manifest's in-commit
        timestamp (Delta ICT — survives file copies/restores), falling
        back to the manifest file's mtime for manifests written before
        the field existed (Delta's log-mtime mechanism)."""
        path = self._manifest_path(version)
        ts = _load_manifest_json(path).get("ts")
        return float(ts) if ts is not None else os.stat(path).st_mtime

    def version_at_timestamp(self, ts) -> int:
        """Timestamp time travel: the newest version committed at or
        before ``ts`` (datetime, ISO-8601 string, or epoch seconds).
        Resolution prefers each manifest's IN-COMMIT timestamp
        (writer-clamped monotone) over its file mtime, so the anchor
        survives copies/restores; pre-field manifests fall back to
        mtime. Commits are sequential, so times are monotone per table
        and a binary search over the retained versions reads only
        O(log n) manifests."""
        import datetime as _dt

        if isinstance(ts, str):
            when = _dt.datetime.fromisoformat(ts)
        elif isinstance(ts, (int, float)):
            when = _dt.datetime.fromtimestamp(
                float(ts), _dt.timezone.utc
            )
        else:
            when = ts
        # naive inputs are UTC wall time (the session tz is pinned UTC
        # and in-commit timestamps are UTC epochs); interpreting them
        # as host-local would shift AS OF probes on non-UTC machines
        # and mis-resolve during DST-ambiguous hours
        if when.tzinfo is None:
            when = when.replace(tzinfo=_dt.timezone.utc)
        epoch = when.timestamp()
        versions = sorted(
            v
            for entry in os.listdir(self.location)
            if (v := _manifest_version_of(entry)) is not None
        )
        lo, hi, best = 0, len(versions) - 1, -1
        while lo <= hi:
            mid = (lo + hi) // 2
            if self._commit_time(versions[mid]) <= epoch:
                best = versions[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best < 0:
            raise ValueError(
                f"table {self.name}: no version committed at or before {when} "
                "(or the versions were vacuumed)"
            )
        return best

    def history(self) -> list[dict]:
        """Version history from the manifests still on disk (newest
        first): version, partition count, write roots — the DESCRIBE
        HISTORY analogue."""
        out = []
        if not os.path.isdir(self.location):
            return out
        for entry in sorted(os.listdir(self.location), reverse=True):
            v = _manifest_version_of(entry)
            if v is None:
                continue
            entries = self._read_manifest(v)
            roots = {_write_root(rel) for rel in entries.values()}
            op = _load_manifest_json(self._manifest_path(v)).get(
                "op", "WRITE"
            )
            out.append(
                {
                    "version": v,
                    "operation": op,
                    "partitions": len(entries),
                    "write_roots": len(roots),
                    # commit time: in-commit ts, mtime fallback
                    "timestamp": self._commit_time(v),
                }
            )
        out.sort(key=lambda d: -d["version"])
        return out

    def describe(self) -> dict:
        """Current-table summary: schema, layout, version, partitions."""
        return {
            "name": self.name,
            "location": self.location,
            "version": self.current_version(),
            "partition_columns": list(self.partition_columns),
            "sort_columns": list(self.sort_columns),
            "schema": self.schema.simpleString() if self.schema else None,
            "partitions": len(self._read_manifest(self.current_version()))
            if self.exists()
            else 0,
        }

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE … TO VERSION AS OF``: make an old
        snapshot current again via a NEW metadata-only commit that
        references the old manifest's entries and stats — history moves
        forward (the bad versions stay inspectable until vacuum), no
        data files are copied or rewritten. The current (possibly
        evolved) schema is kept: old files read back with appended
        columns null-filled, same as any post-evolution snapshot read."""
        entries = self._read_manifest(version)
        stats = self._read_stats(version)
        v_new = self.current_version() + 1
        self._save_schema()
        # the restored snapshot's constraint set comes back with it
        # (Delta RESTORE restores table metadata, constraints included)
        self.constraints = self._read_constraints(version)
        self.bloom = self._read_bloom(version)
        # column mapping reverts with the rest of the metadata (a
        # rename rolled back by RESTORE really is rolled back)
        self.renames = self._read_renames(version)
        # the restored version's SCHEMA comes back with it (needed when
        # the rolled-back span contains a CREATE OR REPLACE or column
        # evolution); pre-schema manifests keep the current one
        restored_schema = _load_manifest_json(
            self._manifest_path(version)
        ).get("schema")
        if restored_schema:
            self.schema = StructType.fromJson(restored_schema)
            self._save_schema()  # fresh handles load the side file
        # TBLPROPERTIES are table metadata: a restore brings back the
        # restored version's map (Delta RESTORE does the same)
        self.properties = self._read_properties(version)
        self._apply_functional_properties()
        self.defaults = self._read_defaults(version)
        self.cluster_by = self._read_cluster_by(version)
        self.clustered_rels = self._read_clustered(version)
        # identity watermark moves FORWARD through a restore — ids the
        # rolled-back versions consumed are never re-minted (Delta
        # keeps the identity high watermark monotonic the same way)
        self.identity = self._read_identity(v_new - 1)
        # txn watermarks move forward even through a restore — an
        # additive sink must not re-apply batches the rolled-back
        # versions had consumed. The restored snapshot's DV set comes
        # back with it (rows deleted after `version` reappear).
        dv, dv_n = self._read_dv(version)
        # row ids come back with the restored snapshot; the mint
        # watermark moves FORWARD (like identity) — rolled-back ids
        # are never re-minted
        rb_v, rm_v, high_v = self._read_row_base(version)
        _rb, _rm, high_cur = self._read_row_base(v_new - 1)
        self._write_manifest(
            v_new, entries, stats, self._read_txn(v_new - 1),
            op=f"RESTORE v{version}", dv=dv, dv_n=dv_n,
            row_base=rb_v, row_mat=rm_v, row_high=max(high_v, high_cur),
            # row commit versions come back with the snapshot exactly
            # like ids — omitting this resolved every restored file's
            # _row_commit_version to the 0/NULL fallback
            row_ver=self._read_row_ver(version),
        )
        self._commit(v_new)
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        return v_new

    def clone(self, name: str, location: str) -> "ManagedTable":
        """Delta SHALLOW CLONE: a new independent table whose first
        manifest references the source's CURRENT data files by absolute
        path — metadata-only, zero bytes copied, O(manifest) time at any
        table size. The clone evolves independently (its own versions,
        merges, constraints); files it writes later are its own.
        ``vacuum()`` on the clone never deletes source-owned files (the
        path-containment guard skips anything outside the clone's
        location), mirroring Delta's rule that vacuuming a shallow
        clone leaves the source intact."""
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        entries = {
            k: os.path.join(self.location, rel)
            for k, rel in self._read_manifest(v).items()
        }
        stats = {
            os.path.join(self.location, f): s
            for f, s in self._read_stats(v).items()
        }
        out = ManagedTable(
            self.spark,
            name,
            location,
            schema=self.schema,
            partition_columns=self.partition_columns,
            sort_columns=self.sort_columns,
            retain_versions=self.retain_versions,
        )
        if out.exists():
            raise FileExistsError(f"table {name}: already exists at {location}")
        out.constraints = dict(self.constraints)  # manifest 0 carries them
        out.renames = dict(self.renames)  # column mapping travels too
        # bloom config travels with the clone; the clone's reads keep
        # using the SOURCE's sidecar bitmaps through the absolute write
        # roots (same zero-copy rule as the data files)
        out.bloom = {c: dict(s) for c, s in self.bloom.items()}
        out.generated = {c: dict(s) for c, s in self.generated.items()}
        out.identity = {c: dict(s) for c, s in self.identity.items()}
        out._save_schema()
        # active deletion vectors travel with the clone: dv ROWS are
        # rewritten with the absolute file keys the clone reads under
        # (O(deleted rows) — the data files themselves stay zero-copy)
        src_dv, src_dv_n = self._read_dv(v)
        dv: dict[str, str] = {}
        dv_n: dict[str, int] = {}
        if src_dv:
            rows = self._dv_rows(src_dv).select(
                # already-absolute keys (source itself a clone) pass
                # through; own-relative keys get the source root
                F.when(
                    F.col("file").startswith("/"), F.col("file")
                ).otherwise(
                    F.concat(F.lit(self.location + os.sep), F.col("file"))
                ).alias("file"),
                "pos",
            )
            dv_rel = f"_dv/w=0-{uuid.uuid4().hex[:8]}"
            rows.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(location, dv_rel)
            )
            dv = {
                os.path.join(self.location, f): dv_rel for f in src_dv
            }
            dv_n = {
                os.path.join(self.location, f): n for f, n in src_dv_n.items()
            }
        out._write_manifest(
            0, entries, stats, op=f"CLONE {self.name}", dv=dv, dv_n=dv_n
        )
        out._commit(0)
        return out

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Delta Change-Data-Feed analogue: the row-level content diff
        between two snapshots, as full rows tagged ``_change_type`` ∈
        {insert, delete} (an update surfaces as delete+insert of the
        changed row — the same convention Delta CDF uses without
        update preimage tracking).

        Two strategies, auto-selected (``last_changes_strategy`` records
        which ran):

        - **incremental** — when the old manifest's entries all carry
          over into the new one (append / INSERT INTO / DV delete / DV
          update evolution, the common CDC shape), the diff needs NO
          full-table read: inserts are the added dirs' visible rows
          plus any DV positions that were unmarked, deletes are the
          positions newly DV-marked on carried-over files — O(changed
          rows), the cost Delta pays reading its CDF files. A GDPR
          delete of 100 rows out of 100 TB diffs in milliseconds.
        - **diff** — any rewrite (overwrite, compact, copy-on-write
          merge, restore that dropped entries) falls back to two
          EXCEPT ALLs over the snapshot reads. Multiset semantics keep
          duplicate-row cardinality honest; each EXCEPT is a shuffle on
          the full row hash — what Delta pays when CDF wasn't enabled
          at write time.
        """
        v_to = self.current_version() if to_version is None else to_version
        if from_version == v_to - 1 and from_version >= 0:
            # single commit: the two cheap strategies Delta reads CDF
            # with — skip dataChange=false maintenance rewrites, and
            # read write-side staged change files when the commit
            # materialized them (each changed byte read once, no diff)
            if not self._read_data_change(v_to):
                self.last_changes_strategy = "no-data-change"
                if self.schema is None:
                    self.schema = self._load_schema()
                return self.spark.createDataFrame(
                    [], self.schema
                ).withColumn("_change_type", F.lit("").cast("string"))
            staged_cdf = self._read_cdf_staged(v_to)
            if staged_cdf is not None:
                self.last_changes_strategy = "staged"
                if self.schema is None:
                    self.schema = self._load_schema()
                parts = []
                for tag in ("insert", "delete"):
                    rel = staged_cdf.get(tag)
                    if not rel:
                        continue
                    parts.append(
                        self.spark.read.schema(self._physical_schema())
                        .parquet(os.path.join(self.location, rel))
                        .select(*self._logical_select())
                        .withColumn("_change_type", F.lit(tag))
                    )
                return reduce(DataFrame.unionByName, parts)
        # from_version -1 = "before the table existed": everything in
        # v_to is an insert (the CDC backfill convention)
        old_entries = (
            {} if from_version < 0 else self._read_manifest(from_version)
        )
        new_entries = self._read_manifest(v_to)
        if set(old_entries.items()) <= set(new_entries.items()):
            self.last_changes_strategy = "incremental"
            return self._changes_incremental(
                from_version, v_to, old_entries, new_entries
            )
        self.last_changes_strategy = "diff"
        old = self.read(from_version)
        new = self.read(v_to)
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    def changes_by_version(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Delta CDF's full schema: the change feed with per-commit
        attribution — every row tagged ``_change_type``,
        ``_commit_version`` (the version that produced it) and
        ``_commit_timestamp``. Computed as one diff per version pair in
        the window, so attribution is exact even when the window mixes
        appends, DV deletes and rewrites: each pair independently takes
        the incremental (manifest/DV-diff) or full-diff strategy.
        Per-pair cost is metadata-bounded for the append/DV commits
        that dominate real windows; a k-version window is k cheap diffs
        rather than one uninterpretable two-endpoint diff."""
        v_to = self.current_version() if to_version is None else to_version
        parts = []
        for v in range(from_version, v_to):
            if not self._read_data_change(v + 1):
                continue  # OPTIMIZE-family commit: no content change
            step = self.changes(v, v + 1)
            ts = self._commit_time(v + 1)
            parts.append(
                step.withColumn("_commit_version", F.lit(v + 1).cast("long"))
                .withColumn(
                    "_commit_timestamp",
                    F.lit(
                        __import__("datetime").datetime.fromtimestamp(
                            ts, __import__("datetime").timezone.utc
                        ).replace(tzinfo=None)
                    ).cast("timestamp"),
                )
            )
        if not parts:
            if self.schema is None:
                self.schema = self._load_schema()
            return (
                self.spark.createDataFrame([], self.schema)
                .withColumn("_change_type", F.lit("").cast("string"))
                .withColumn("_commit_version", F.lit(0).cast("long"))
                .withColumn(
                    "_commit_timestamp", F.lit(None).cast("timestamp")
                )
            )
        return reduce(DataFrame.unionByName, parts)

    def _changes_incremental(
        self,
        v_from: int,
        v_to: int,
        old_entries: Mapping[str, str],
        new_entries: Mapping[str, str],
    ) -> DataFrame:
        """Manifest/DV-delta change feed for append+DV-only evolution.
        Data files are immutable, so a position's row content is
        identical in both snapshots — the delta of the DV position
        sets IS the delta of the visible rows on carried-over files."""
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        dv_old, _ = self._read_dv(v_from)
        dv_new, _ = self._read_dv(v_to)
        # restrict the DV delta to files of CARRIED-OVER dirs: a row
        # appended AND deleted inside the window was never visible at
        # either endpoint — no change. (Its file lives in an added dir.)
        old_dirs = self.spark.createDataFrame(
            [(d,) for d in sorted(set(old_entries.values()))], "dir string"
        )
        def on_old(pos_df: DataFrame) -> DataFrame:
            return (
                pos_df.withColumn(
                    "dir", F.regexp_replace(F.col("file"), "/[^/]*$", "")
                )
                .join(F.broadcast(old_dirs), "dir", "left_semi")
                .drop("dir")
            )
        # one DV set empty is the common window (first delete after a
        # write; restore back to clean) — no exceptAll shuffle needed
        if not dv_old and not dv_new:
            newly_dead = resurrected = None
        elif not dv_old:
            newly_dead, resurrected = on_old(self._dv_rows(dv_new)), None
        elif not dv_new:
            newly_dead, resurrected = None, on_old(self._dv_rows(dv_old))
        else:
            rows_old, rows_new = self._dv_rows(dv_old), self._dv_rows(dv_new)
            newly_dead = on_old(rows_new.exceptAll(rows_old))
            resurrected = on_old(rows_old.exceptAll(rows_new))
        parts = []
        added_rels = set(new_entries.values()) - set(old_entries.values())
        if added_rels:
            added = self._scan_rels(added_rels, need_meta=bool(dv_new))
            if dv_new:
                added = added.join(
                    self._dv_rows(dv_new).select(
                        F.col("file").alias("__mt_key"),
                        F.col("pos").alias("__mt_pos"),
                    ),
                    ["__mt_key", "__mt_pos"],
                    "left_anti",
                ).select(*cols)
            parts.append(added.withColumn("_change_type", F.lit("insert")))
        # fetch row content for DV-delta positions: scan only the
        # touched files' dirs, semi-join on (file, pos). The touched
        # dir set comes from the DV MAPPINGS on the driver — a file's
        # position set can only change when its dv dir reference
        # changes (dv dirs are immutable once written) — so no Spark
        # job is needed to discover it; a possibly-wider dir (same
        # positions rewritten into a new dir) only widens the scan the
        # semi-join filters, never the result. Restricted to
        # carried-over dirs exactly as on_old restricts the positions.
        old_dir_set = set(old_entries.values())

        def _touched_dirs(changed_keys) -> list[str]:
            dirs = {k.rsplit("/", 1)[0] for k in changed_keys if "/" in k}
            return sorted(d for d in dirs if d in old_dir_set)

        changed_new = [f for f, d in dv_new.items() if dv_old.get(f) != d]
        changed_old = [f for f, d in dv_old.items() if dv_new.get(f) != d]
        for pos_df, tag, touched in (
            (newly_dead, "delete", _touched_dirs(changed_new)),
            (resurrected, "insert", _touched_dirs(changed_old)),
        ):
            if pos_df is None:
                continue
            if not touched:
                continue
            content = self._scan_rels(touched, need_meta=True)
            parts.append(
                content.join(
                    pos_df.select(
                        F.col("file").alias("__mt_key"),
                        F.col("pos").alias("__mt_pos"),
                    ),
                    ["__mt_key", "__mt_pos"],
                    "left_semi",
                )
                .select(*cols)
                .withColumn("_change_type", F.lit(tag))
            )
        if not parts:
            return self.spark.createDataFrame([], self.schema).withColumn(
                "_change_type", F.lit("").cast("string")
            )
        return reduce(DataFrame.unionByName, parts)

    def vacuum_dry_run(
        self, keep: int = 2, retain_hours: float | None = None
    ) -> list[str]:
        """Delta ``VACUUM t DRY RUN``: the location-relative paths a
        ``vacuum`` with the same retention WOULD delete — nothing is
        touched. The operator's pre-flight check before destroying
        time-travel history."""
        current = self.current_version()
        if current < 0 or not os.path.isdir(self.location):
            return []
        oldest_kept = self._vacuum_horizon(current, keep, retain_hours)
        referenced: set[str] = set()
        dead: set[str] = set()
        for entry in os.listdir(self.location):
            v = _manifest_version_of(entry)
            if v is None:
                continue
            if v >= oldest_kept:
                referenced |= set(self._read_manifest(v).values())
                referenced |= set(self._read_dv(v)[0].values())
            else:
                dead |= set(self._read_manifest(v).values())
                dead |= set(self._read_dv(v)[0].values())
        own_root = os.path.realpath(self.location) + os.sep
        out: list[str] = []
        carried_dirs = {
            os.path.dirname(r) for r in referenced if _rel_is_file(r)
        }
        for rel in sorted(dead - referenced):
            if not os.path.realpath(
                os.path.join(self.location, rel)
            ).startswith(own_root):
                continue
            if _rel_is_file(rel) and os.path.dirname(rel) in referenced:
                # its dir is still a live manifest entry — the file
                # lives on through it
                continue
            if not _rel_is_file(rel) and rel in carried_dirs:
                # the dir left the manifests but some of its files are
                # still referenced as carry entries: only the dead
                # files inside would go
                d = os.path.join(self.location, rel)
                try:
                    names = os.listdir(d)
                except OSError:
                    continue
                out.extend(
                    os.path.join(rel, n)
                    for n in sorted(names)
                    if n.endswith(".parquet")
                    and os.path.join(rel, n) not in referenced
                )
                continue
            out.append(rel)
        return out

    def _vacuum_horizon(
        self, current: int, keep: int, retain_hours: float | None
    ) -> int:
        """Oldest version a vacuum with this retention keeps — shared
        by the real vacuum and the dry run so they can never
        disagree."""
        if retain_hours is not None:
            import time as _time

            cutoff = _time.time() - retain_hours * 3600.0
            recent = [
                v
                for entry in os.listdir(self.location)
                if (v := _manifest_version_of(entry)) is not None
                and self._commit_time(v) >= cutoff
            ]
            return min(min(recent), current) if recent else current
        return max(0, current - keep + 1)

    def repair(self, dry_run: bool = False) -> dict:
        """Delta ``FSCK REPAIR TABLE``: drop manifest entries whose data
        directories no longer exist on storage (someone deleted files
        out-of-band) so reads stop failing on missing inputs. Returns
        ``{"missing": [...], "version": v}``; with ``dry_run`` only
        reports. The repair is a metadata-only commit — DESCRIBE
        HISTORY records it, RESTORE can resurrect the pre-repair
        manifest (pointing at still-missing files, as Delta's would)."""
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"table {self.name} does not exist yet")
        entries = self._read_manifest(v)
        missing = sorted(
            {
                rel
                for rel in entries.values()
                if not (
                    os.path.isfile if _rel_is_file(rel) else os.path.isdir
                )(
                    rel if os.path.isabs(rel)
                    else os.path.join(self.location, rel)
                )
            }
        )
        if dry_run or not missing:
            return {"missing": missing, "version": v}
        gone = set(missing)
        kept_entries = {
            k: rel for k, rel in entries.items() if rel not in gone
        }
        stats = {
            f: s
            for f, s in self._read_stats(v).items()
            if not _rel_covers(gone, f)
        }
        dv, dv_n = self._read_dv(v)
        dv = {f: d for f, d in dv.items() if not _rel_covers(gone, f)}
        dv_n = {f: n for f, n in dv_n.items() if f in dv}
        v_new = v + 1
        rb, rm, rh, rv = self._carried_row_base(v, stats)
        self._write_manifest(
            v_new, kept_entries, stats, self._read_txn(v),
            op=f"FSCK REPAIR ({len(missing)} dirs)", dv=dv, dv_n=dv_n,
            row_base=rb, row_mat=rm, row_high=rh, row_ver=rv,
        )
        self._commit(v_new)
        return {"missing": missing, "version": v_new}

    def vacuum(self, keep: int = 2, retain_hours: float | None = None) -> None:
        """Drop data dirs not referenced by the retained manifests (and
        the superseded manifests themselves).

        Retention is version-count (``keep``, the default) or
        time-based (``retain_hours`` — Delta's habitual ``VACUUM t
        RETAIN n HOURS``): with ``retain_hours`` every version
        committed within the window survives, resolved through the
        manifest files' mtimes exactly as ``version_at_timestamp``
        does, and the CURRENT version always survives regardless.

        Explicit — mirroring Delta's VACUUM — because auto-gc inside
        every write would delete files still referenced by lazily-
        evaluated DataFrames returned from earlier ``read()`` calls.
        """
        current = self.current_version()
        if current < 0 or not os.path.isdir(self.location):
            return
        oldest_kept = self._vacuum_horizon(current, keep, retain_hours)
        referenced: set[str] = set()
        dropped_manifests: list[int] = []
        for entry in os.listdir(self.location):
            v = _manifest_version_of(entry)
            if v is None:
                continue
            if v >= oldest_kept:
                referenced |= set(self._read_manifest(v).values())
                # dv dirs referenced by a live manifest must survive
                referenced |= set(self._read_dv(v)[0].values())
            else:
                dropped_manifests.append(v)
        dead: set[str] = set()
        for v in dropped_manifests:
            dead |= set(self._read_manifest(v).values())
            dead |= set(self._read_dv(v)[0].values())
        # a PREVIOUS vacuum that crashed between tombstoning and dir
        # removal left ._vm_* files: fold their entries into this
        # sweep so orphan data dirs never leak
        for entry in os.listdir(self.location):
            if entry.startswith("._vm_") and entry.endswith(".json"):
                try:
                    m = _load_manifest_json(
                        os.path.join(self.location, entry)
                    )
                    dead |= set((m.get("entries") or {}).values())
                    dead |= set((m.get("dv") or {}).values())
                except Exception:
                    pass  # unreadable tombstone: removed below anyway
        # ORDER MATTERS (round-12 review 4): the manifests leave FIRST
        # — renamed to tombstones, so a stream/scan lagging at the
        # retention edge fails LOUDLY on the missing manifest instead
        # of os.walk-ing already-deleted dirs into a silent empty
        # batch whose checkpoint commit skips those rows forever. The
        # tombstones keep the dead-dir list recoverable if this
        # process dies mid-sweep (see the fold-in above).
        for v in dropped_manifests:
            try:
                os.replace(
                    self._manifest_path(v),
                    os.path.join(self.location, f"._vm_{v}.json"),
                )
            except FileNotFoundError:
                pass  # another vacuum swept it concurrently
        own_root = os.path.realpath(self.location) + os.sep
        carried_dirs = {
            os.path.dirname(r) for r in referenced if _rel_is_file(r)
        }
        for rel in dead - referenced:
            target = os.path.join(self.location, rel)
            # containment guard: a shallow clone's manifest references
            # source-owned absolute paths — never delete those
            if not os.path.realpath(target).startswith(own_root):
                continue
            if _rel_is_file(rel):
                # a dead carry entry: remove just the file — unless its
                # dir is itself a live entry (the file lives through it)
                if os.path.dirname(rel) in referenced:
                    continue
                try:
                    os.remove(target)
                except OSError:
                    pass
                continue
            if rel in carried_dirs:
                # dir retired by a per-file CoW but some files inside
                # are still referenced as carry entries: sweep only the
                # dead files, keep the dir
                try:
                    names = os.listdir(target)
                except OSError:
                    continue
                for n in names:
                    if (
                        n.endswith(".parquet")
                        and os.path.join(rel, n) not in referenced
                    ):
                        try:
                            os.remove(os.path.join(target, n))
                        except OSError:
                            pass
                continue
            shutil.rmtree(target, ignore_errors=True)
        for entry in os.listdir(self.location):
            if entry.startswith("._vm_") and entry.endswith(".json"):
                try:
                    os.remove(os.path.join(self.location, entry))
                except FileNotFoundError:
                    pass
        # bloom sidecars of write roots no retained manifest references
        # are dead weight (their data dirs just got swept too)
        bloom_root = os.path.join(self.location, _BLOOM_DIR)
        if os.path.isdir(bloom_root):
            live_roots = {
                os.path.basename(_write_root(rel)) for rel in referenced
            }
            for entry in os.listdir(bloom_root):
                if entry.startswith("w=") and entry not in live_roots:
                    shutil.rmtree(
                        os.path.join(bloom_root, entry), ignore_errors=True
                    )
        # staged change files of vacuumed commits serve no CDF reader
        cdata_root = os.path.join(self.location, "_change_data")
        if os.path.isdir(cdata_root):
            live_cdf: set[str] = set()
            for entry in os.listdir(self.location):
                v = _manifest_version_of(entry)
                if v is not None and v >= oldest_kept:
                    for rel in (self._read_cdf_staged(v) or {}).values():
                        # rel = _change_data/<write id>/<tag>
                        live_cdf.add(rel.split("/")[1])
            for entry in os.listdir(cdata_root):
                if entry == "derived":
                    # read-side derived-diff cache (v{N}-{digest} dirs):
                    # disposable — prune only pairs whose versions were
                    # vacuumed; live pairs keep their paid-once cache
                    droot = os.path.join(cdata_root, "derived")
                    for d in os.listdir(droot):
                        ver = d[1:].split("-", 1)[0]
                        if (
                            not d.startswith("v")
                            or not ver.isdigit()
                            or int(ver) < oldest_kept
                        ):
                            shutil.rmtree(
                                os.path.join(droot, d), ignore_errors=True
                            )
                    continue
                if entry not in live_cdf:
                    shutil.rmtree(
                        os.path.join(cdata_root, entry), ignore_errors=True
                    )
        # checkpoints of vacuumed versions serve no reader
        if os.path.isdir(self._ckpt_root):
            for entry in os.listdir(self._ckpt_root):
                if entry.startswith("v=") and entry[2:].isdigit() and \
                        int(entry[2:]) < oldest_kept:
                    shutil.rmtree(
                        os.path.join(self._ckpt_root, entry), ignore_errors=True
                    )
        # prune now-empty write roots
        data_root = os.path.join(self.location, "data")
        if os.path.isdir(data_root):
            for entry in os.listdir(data_root):
                d = os.path.join(data_root, entry)
                for dirpath, dirnames, filenames in os.walk(d, topdown=False):
                    if not dirnames and not filenames:
                        os.rmdir(dirpath)
                    elif all(f in ("_SUCCESS",) for f in filenames) and not dirnames:
                        shutil.rmtree(dirpath, ignore_errors=True)

    # ------------------------------------------------------------ partitions
    def _source_partitions(self, source: DataFrame):
        """(predicate, collected partition tuples) of ``source`` —
        the filter half feeds the scoped target scan, the tuples half
        feeds :meth:`_scope_rels_keys` (the entry region the scoped
        operation reads, rewrites, or empties). ``(None, [])`` when
        the source is empty."""
        tuples = source.select(*self.partition_columns).distinct().collect()
        if not tuples:
            return None, []
        ors = []
        for t in tuples:
            ands = [
                F.col(c).isNull() if t[c] is None else (F.col(c) == F.lit(t[c]))
                for c in self.partition_columns
            ]
            ors.append(reduce(lambda a, b: a & b, ands))
        return reduce(lambda a, b: a | b, ors), tuples

    def _scope_dnf(self, tuples) -> list[list[tuple]]:
        """The scoped operation's read region as predicate-triple DNF
        (one conjunction per collected source partition tuple). Fed to
        conflict detection ALONGSIDE the exact entry keys from
        :meth:`_scope_rels_keys`: the keys cover entries that existed
        at the read snapshot, the DNF also covers partitions the source
        NAMES but that had no entry yet — a racing insert into such a
        partition must conflict (Delta's ConflictChecker raises
        ConcurrentAppend on read-predicate overlap), not be judged
        disjoint just because nothing was there to claim."""
        return [
            [
                (c, "is_null") if t[c] is None else (c, "=", t[c])
                for c in self.partition_columns
            ]
            for t in tuples
        ]

    def _scope_rels_keys(
        self, version: int, tuples
    ) -> tuple[set[str], set[str]]:
        """``(entry rel dirs, base entry keys)`` of ``version`` whose
        partition tuple equals one of the collected source tuples — the
        exact manifest region a partition-scoped merge reads and may
        rewrite or EMPTY. Passed to ``_stage_and_commit`` as
        ``drop_rels`` (a partition whose rows all died must leave the
        manifest — restaging alone can't remove it, the staged write
        produces no dir for an empty partition) and as ``read_keys``
        (the conflict-detection region that lets disjoint concurrent
        commits rebase instead of raising). Strict in the safe
        direction: an entry whose partition value can't be parsed into
        the comparison space stays OUT of the scope (carried over,
        never dropped)."""
        entries = self._read_manifest(version) if version >= 0 else {}
        if not entries or not tuples:
            return set(), set()
        ptypes = {
            f.name: f.dataType.simpleString()
            for f in (self.schema.fields if self.schema else [])
            if f.name in self.partition_columns
        }
        trips = [
            [
                (c, "is_null") if t[c] is None else (c, "=", t[c])
                for c in self.partition_columns
            ]
            for t in tuples
        ]
        rels: set[str] = set()
        keys: set[str] = set()
        for k, rel in entries.items():
            bk = _base_key(k)
            vals = json.loads(bk)
            if any(
                raw is not None
                and self._partition_stat(
                    ptypes.get(c, "string"), raw, 1
                ) is None
                for c, raw in zip(self.partition_columns, vals)
            ):
                # typed comparison impossible — fall back to exact
                # STRING equality against the source tuples. Silently
                # carrying the entry over instead is NOT safe here:
                # a scoped CoW delete that empties the partition would
                # resurrect its rows (the staged write produces no dir
                # for an empty partition, and an unclaimed entry never
                # reaches drop_rels).
                raw_by_col = dict(zip(self.partition_columns, vals))
                for t in tuples:
                    if all(
                        (raw_by_col[c] is None and t[c] is None)
                        or (
                            raw_by_col[c] is not None
                            and t[c] is not None
                            and str(raw_by_col[c]) == str(t[c])
                        )
                        for c in self.partition_columns
                    ):
                        rels.add(rel)
                        keys.add(bk)
                        break
                continue
            if any(self._base_matches(bk, tr) for tr in trips):
                rels.add(rel)
                keys.add(bk)
        return rels, keys

    # ------------------------------------------------------- schema evolution
    def _evolve_schema(self, source: DataFrame) -> tuple[DataFrame, StructType]:
        """Delta ``autoMerge`` semantics for the manifest-MVCC substitute:
        new source columns are APPENDED to the table schema (nullable —
        pre-existing rows read back NULL for them, exactly as Spark's
        parquet reader null-fills a column absent from old files);
        table columns missing from the source are null-filled in the
        returned aligned source; a same-named column with a different
        type is cast to the table's type, raising if the cast is not
        allowed (Delta raises on incompatible evolution too).

        Pure — returns ``(aligned_source, evolved_schema)`` WITHOUT
        touching ``self.schema``: the caller installs the evolved schema
        around the commit and rolls it back if the write fails, so a
        failed merge can't leave the in-memory schema projecting phantom
        columns no committed version carries. The evolved schema is
        persisted by the commit that carries it (``_stage_and_commit`` →
        ``_save_schema``); old manifests and their untouched files stay
        readable under the widened schema — snapshot reads of
        pre-evolution versions simply show NULL for the appended
        columns.
        """
        if self.schema is None:
            return source, source.schema
        evolved = self.schema
        table_names = {f.name for f in evolved.fields}
        added = [
            StructField(f.name, f.dataType, True)
            for f in source.schema.fields
            if f.name not in table_names
        ]
        if added:
            evolved = StructType(list(evolved.fields) + added)
        src_types = {f.name: f.dataType for f in source.schema.fields}
        aligned = []
        for f in evolved.fields:
            if f.name not in src_types:
                aligned.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif src_types[f.name] != f.dataType:
                aligned.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                aligned.append(F.col(f.name))
        return source.select(*aligned), evolved

    def _check_source_columns(self, source: DataFrame) -> None:
        """Without ``merge_schema``, any column drift is an error — the
        reference's Delta merges fail the same way when a source adds or
        drops a column and autoMerge is off."""
        if self.schema is None:
            return
        table_cols = {f.name for f in self.schema.fields}
        src_cols = set(source.columns)
        if table_cols != src_cols:
            extra = sorted(src_cols - table_cols)
            missing = sorted(table_cols - src_cols)
            raise ValueError(
                f"merge into {self.name}: source schema drift "
                f"(extra columns {extra}, missing columns {missing}); "
                "pass merge_schema=True to evolve the table schema"
            )

    # ---------------------------------------------------------------- MERGE
    def merge_insert_only(
        self,
        source: DataFrame,
        match_columns: Sequence[str] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """S5: idempotent append — insert source rows with no match.

        ``match_columns`` defaults to all non-``ingestion_time`` columns
        (the reference's all-column condition, CommonFunctions.py:39-59).
        Implemented as a left-anti join + append with NULL-SAFE equality
        (``<=>``): a replayed row whose match columns contain NULLs
        still matches its earlier copy, keeping the re-run idempotent —
        the whole point of this primitive. (Delta MERGE with a plain
        ``=`` condition re-inserts NULL-bearing rows on replay; the
        reference's data has no NULLs in its match columns, so this
        deviation is invisible there and strictly safer here — it bit
        for real when schema evolution null-filled an added column.)

        Only the source's partitions gain rows, so they alone are
        rewritten; every other partition's entry (and files) carries
        over untouched. The anti-join's match set is restricted to those
        partitions too when the match columns cover the partition
        columns (all-column match always does); for a narrower keyed
        match the whole table's keys are scanned (a match may live in
        another partition) but the rewrite stays partition-scoped.

        ``merge_schema`` enables Delta-autoMerge-style evolution: new
        source columns are appended to the table schema, missing ones
        null-filled (:meth:`_evolve_schema`). The default (all-column)
        match condition is built from the SOURCE's real columns before
        alignment, so a null-filled column never silently joins the
        match key.

        A merge that inserts NOTHING commits nothing (one limit-1 probe
        of the anti-join): the reference's idempotent re-run pattern
        (Bronze-Ingestion-Customers.py:51-58 replaying an already-
        ingested batch) costs ~0 instead of a table rewrite — the same
        no-op short-circuit Delta's MERGE does when no file changes.
        If the schema evolved but no rows landed, a metadata-only
        version carries the widened schema.
        """
        if match_columns is None:
            match_columns = [
                c for c in source.columns if "ingestion_time" not in c
            ]
        # generated columns the source omitted are computed here (NOT
        # part of the default match condition — they are functions of
        # columns that already are)
        source = self._apply_generated(source)
        prev_schema = self.schema
        if merge_schema:
            source, evolved = self._evolve_schema(source)
            self.schema = evolved  # rolled back below if the merge fails
        else:
            self._check_source_columns(source)
        try:
            v_read = self.current_version()
            track = self._row_tracking_enabled()
            if self.schema is None:
                self.schema = self._load_schema()
            if self.schema is None:
                raise ValueError(f"table {self.name}: no schema available")
            cols = [f.name for f in self.schema.fields]
            if track:
                # surviving rows keep their ids + last-modified
                # versions in-data; the inserted rows mint (NULL
                # __row_id → base + position, NULL __row_ver → the
                # committing version)
                target = self._track_read(v_read)
            else:
                target = self.read(v_read)
            scope_keys: set[str] | None = None
            read_dnf = None
            if self.partition_columns:
                pf, tuples = self._source_partitions(source)
                if pf is None:  # empty source: no-op, no schema change
                    self.schema = prev_schema
                    return self.current_version()
                match_covers_partitions = set(self.partition_columns) <= set(
                    match_columns
                )
                existing_src = (
                    target.filter(pf) if match_covers_partitions else target
                )
                target = target.filter(pf)
                if match_covers_partitions:
                    _rels, scope_keys = self._scope_rels_keys(v_read, tuples)
                    read_dnf = self._scope_dnf(tuples)
                else:
                    read_dnf = [[]]  # keyed match scans the whole table
            else:
                existing_src = target
                read_dnf = [[]]
            existing = existing_src.select(*match_columns).distinct()
            new_rows = source.join(
                existing,
                on=[source[c].eqNullSafe(existing[c]) for c in match_columns],
                how="left_anti",
            )
            if new_rows.isEmpty():
                if merge_schema and evolved != prev_schema:
                    return self._commit_metadata_only()
                return self.current_version()
            if track:
                new_rows = new_rows.withColumn(
                    "__row_id", F.lit(None).cast("long")
                ).withColumn("__row_ver", F.lit(None).cast("long"))
            tcols = [*cols, "__row_id", "__row_ver"] if track else cols
            merged = target.select(*tcols).unionByName(
                new_rows.select(*tcols)
            )
            return self._stage_and_commit(
                merged, replace_all=not self.partition_columns,
                op="MERGE INSERT",
                row_ids_materialized="partial" if track else False,
                read_version=v_read,
                read_keys=scope_keys,
                read_dnf=read_dnf,
            )
        except BaseException:
            self.schema = prev_schema
            raise

    def merge_upsert(
        self,
        source: DataFrame,
        key_columns: Sequence[str],
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
        null_safe_keys: bool = False,
    ) -> int:
        """S7: keyed upsert — matched target rows replaced by source values,
        unmatched source rows inserted (Gold-*.py whenMatchedUpdate +
        whenNotMatchedInsert). Equivalent relational form: target rows
        whose key has no source match, UNION ALL source.

        Partition-scoped when the partition columns are part of the key
        (a key's rows then live in exactly one partition); otherwise a
        matching key could exist in an untouched partition and the whole
        table is rewritten.

        ``merge_schema`` evolves the table schema as in
        :meth:`merge_insert_only`.

        ``txn=(app_id, batch_id)`` records a writer-transaction
        watermark ATOMICALLY with the commit (Delta's ``txnAppId``/
        ``txnVersion`` idempotent-writer option): an exactly-once
        ADDITIVE sink checks ``last_txn(app_id) >= batch_id`` before
        applying a batch, so a foreachBatch replay after a crash
        cannot double-add. Requires the stream's batch numbering to be
        deterministic for the app id — the same contract Delta
        documents.
        """
        self._check_append_only("MERGE with matched updates")
        keys = list(key_columns)
        source = self._apply_generated(source)  # compute omitted gen cols
        id_claim = None
        missing_ident = sorted(
            c for c in self.identity if c not in source.columns
        )
        if missing_ident:
            # Delta MERGE + identity: matched rows KEEP the target's
            # ids (stable id per key), not-matched inserts mint fresh
            # ones; the claim commits atomically with the merge
            source, id_claim = self._merge_fill_identity(
                source, keys, missing_ident
            )
        prev_schema = self.schema
        if merge_schema:
            source, evolved = self._evolve_schema(source)
            self.schema = evolved  # rolled back below if the merge fails
        else:
            self._check_source_columns(source)
        try:
            if source.isEmpty():  # no-op: nothing matched, nothing inserted
                self.schema = prev_schema
                return self.current_version()
            scoped = bool(self.partition_columns) and set(
                self.partition_columns
            ) <= set(keys)
            v_read = self.current_version()
            track = self._row_tracking_enabled()
            if self.schema is None:
                self.schema = self._load_schema()
            if self.schema is None:
                raise ValueError(f"table {self.name}: no schema available")
            cols = [f.name for f in self.schema.fields]
            if track:
                # row tracking (Delta parity): surviving rows carry
                # their ids + last-modified versions through the
                # rewrite IN-DATA; a source row replacing a matched key
                # INHERITS that key's id but takes the modifying
                # commit's version (NULL __row_ver), a fresh key mints
                # both (NULL __row_id → base + position)
                target = self._track_read(v_read)
            else:
                target = self.read(v_read)
            drop_scope: set[str] = set()
            scope_keys: set[str] | None = None
            read_dnf = None
            if scoped:
                pf, tuples = self._source_partitions(source)
                if pf is None:
                    self.schema = prev_schema
                    return self.current_version()
                drop_scope, scope_keys = self._scope_rels_keys(
                    v_read, tuples
                )
                read_dnf = self._scope_dnf(tuples)
                target = target.filter(pf)
            else:
                read_dnf = [[]]  # full-table pass: reads everything
            src_keys_df = source.select(*keys).distinct()
            if null_safe_keys:
                # MV/gold folding: a NULL group key is one group (the
                # GROUP BY convention) — default '=' matching would
                # append a fresh NULL-key row on every refresh
                kept = target.alias("__t").join(
                    src_keys_df.alias("__s"),
                    on=reduce(
                        lambda a, b: a & b,
                        [
                            F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}"))
                            for k in keys
                        ],
                    ),
                    how="left_anti",
                )
            else:
                kept = target.join(src_keys_df, on=keys, how="left_anti")
            src = source
            if track:
                from pyspark.sql import Window

                tid = target.groupBy(*keys).agg(
                    F.min("__row_id").alias("__row_id")
                )
                # a duplicate-key source may land multiple rows for one
                # key (upsert keeps them all) — only ONE of them may
                # INHERIT the matched target id, or the durable id
                # materializes twice and row tracking's uniqueness
                # invariant breaks; the rest mint fresh ids (NULL
                # __row_id → base + position). Deterministic pick:
                # first by full row content.
                dup_w = Window.partitionBy(*keys).orderBy(
                    *[F.col(c) for c in source.columns]
                )
                src = (
                    source.withColumn(
                        "__dup_rn", F.row_number().over(dup_w)
                    )
                    .join(tid, on=keys, how="left")
                    .withColumn(
                        "__row_id",
                        F.when(F.col("__dup_rn") == 1, F.col("__row_id")),
                    )
                    .drop("__dup_rn")
                    .withColumn("__row_ver", F.lit(None).cast("long"))
                )
            tcols = [*cols, "__row_id", "__row_ver"] if track else cols
            merged = kept.select(*tcols).unionByName(src.select(*tcols))
            return self._stage_and_commit(
                merged, replace_all=not scoped, txn=txn, op="MERGE UPSERT",
                identity_claim=id_claim,
                drop_rels=drop_scope,
                row_ids_materialized="partial" if track else False,
                read_version=v_read,
                read_keys=scope_keys,
                read_dnf=read_dnf,
            )
        except BaseException:
            self.schema = prev_schema
            raise

    def _merge_fill_identity(
        self, source: DataFrame, keys: list[str], missing: list[str]
    ):
        """(source with identity columns filled, claim): matched keys
        inherit the target's current ids, unmatched rows get minted
        ones via the two-phase assignment."""
        if any(c in keys for c in self.identity):
            raise ValueError(
                f"table {self.name}: identity column(s) cannot be merge "
                "keys when the source omits them"
            )
        if len(missing) != len(self.identity):
            raise ValueError(
                f"table {self.name}: supply either ALL identity columns "
                f"or none; source omits only {missing}"
            )
        probe = f"__tgt_{missing[0]}"
        # the key->id projection only needs target rows whose keys can
        # match the source: prune the read with the source's key DNF
        # (round 14 — at 100 TB the projection touches the candidate
        # files, not the table). scan(trips) ≡ read().filter(trips),
        # and any row the join could match satisfies the triples, so
        # the projection is join-equivalent. An empty read set (no
        # rows / all-NULL key) means nothing matches: mint for all.
        key_dnf = self._source_key_dnf(source, keys)
        if key_dnf == []:
            return self._assign_identity(source)
        # in_bloom triples are conflict-declaration sketches, not scan
        # predicates: the BETWEEN they accompany already bounds the
        # read, so drop them here (scan() evaluates exact triples only)
        scan_trips = (
            [t for t in key_dnf[0] if t[1] != "in_bloom"]
            if key_dnf
            else None
        )
        tgt_rows = self.scan(scan_trips) if scan_trips else self.read()
        tgt_ids = (
            tgt_rows
            .select(
                *keys,
                *[F.col(c).alias(f"__tgt_{c}") for c in missing],
            )
            .dropDuplicates(keys)
        )
        joined = source.join(tgt_ids, keys, "left")
        tmp_cols = [f"__tgt_{c}" for c in missing]
        matched = joined.where(F.col(probe).isNotNull())
        for c in missing:
            matched = matched.withColumn(c, F.col(f"__tgt_{c}"))
        matched = matched.drop(*tmp_cols)
        unmatched = joined.where(F.col(probe).isNull()).drop(*tmp_cols)
        unmatched, claim = self._assign_identity(unmatched)
        return matched.unionByName(unmatched), claim

    def _delete_rows_dv(
        self,
        doomed: DataFrame,
        op: str,
        append_df: DataFrame | None = None,
        append_materialized: bool = False,
        append_mint: bool = False,
        read_dnf: Sequence[Sequence[tuple]] | None = None,
        read_version: int | None = None,
        identity_claim: Mapping[str, tuple[int, int]] | None = None,
    ) -> int:
        """Commit a merge-on-read delete: mark ``doomed`` rows
        (``__mt_key``/``__mt_pos`` of the CURRENT snapshot) in a
        deletion-vector sidecar instead of rewriting their data files —
        Delta's DV path, where a GDPR-delete of 100 rows writes a few
        KB of positions and ZERO data files (``compact()`` materializes
        later). The new dv dir holds the UNION of old and new positions
        for every touched file, so each manifest references exactly one
        dv dir per file and old dv dirs age out with their manifests.

        ``append_df`` stages additional rows into the SAME commit —
        the merge-on-read UPDATE shape (Delta with DVs enabled): the
        old row versions go dead via the vector, their replacements
        land in a fresh data dir, and both become visible atomically
        in one manifest. Constraints bind on the appended rows.

        Concurrency (round 13 — Delta's FILE-level ConflictChecker,
        which works on UNPARTITIONED tables too): the transaction's
        write set is exactly the touched files, so a claim-collision
        loser rebases onto the winner whenever the winner neither
        touched those files nor — unless it was a blind append —
        added files that could satisfy ``read_dnf`` (the DML's WHERE
        as filter-triple DNF; ``None`` = unknown, every non-blind add
        conflicts). Blind appends never conflict: the history
        serializes DML-first (write-serializable), the appended rows
        were never candidates.

        ``read_version`` is the snapshot the DOOMED positions (and any
        ``append_df`` values) were derived from — commits that landed
        between it and this claim are conflict-checked with the same
        file-level rules BEFORE the claim (round-13 review: the CoW
        path has this loop; without it an intermediate writer's
        re-vectoring of a touched file double-counted dv_n and a
        stale predicate scan missed its adds).

        ``identity_claim`` (round 14 — merge-on-read MERGE on identity
        tables): ids minted for the appended insert rows against a base
        watermark; validated and bumped atomically with every manifest
        attempt (:meth:`_claim_identity_bump`), including after a
        disjoint rebase — if the winner consumed ids, the staged files
        are discarded and the caller re-mints."""
        v = self.current_version()
        # metadata of the version being built on binds (round-13
        # review, mirroring _stage_and_commit): a constraint, rename,
        # or property committed by another writer after this handle
        # opened must govern this commit's staging and enforcement
        if v >= 0:
            self.constraints = self._read_constraints(v)
            self.renames = self._read_renames(v)
            self.bloom = self._read_bloom(v)
            self.generated = self._read_generated(v)
            self.properties = self._read_properties(v)
            self._apply_functional_properties()
            self.defaults = self._read_defaults(v)
            self.identity = self._read_identity(v)
            if append_df is not None:
                self._check_partition_layout(v)
        doomed = doomed.select("__mt_key", "__mt_pos")
        per_file = {
            r["__mt_key"]: r["n"]
            for r in doomed.groupBy("__mt_key").agg(F.count("*").alias("n")).collect()
        }
        if per_file:
            # the guard bites only when rows are actually marked dead:
            # an insert-only merge routed through this path must stay
            # legal on an appendOnly table (round-13 review)
            self._check_append_only(op)
        if not per_file:
            if append_df is None or append_df.isEmpty():
                return v  # nothing matched: commit-free no-op
            # nothing to delete but rows to stage (e.g. an SCD2 batch
            # whose keys are ALL new): append in the same commit shape
            # — but NON-blind (round-13 review: this transaction READ
            # the target for its decisions; a blind marker would
            # wrongly exempt it from racers' read-predicate checks).
            # The region is declared at FILE granularity (round 14):
            # it touches no existing file, so it conflicts only with a
            # non-blind racer whose adds can satisfy its read predicate
            # — a racing BLIND ingest rebases instead of aborting it
            cols = [f.name for f in self.schema.fields]
            return self._stage_and_commit(
                self._apply_generated(append_df).select(*cols),
                replace_all=False,
                append_only=True,
                op=op,
                identity_claim=identity_claim,
                read_version=read_version,
                touched_files=(),
                file_read_dnf=read_dnf,
            )
        # stale-read guard over the whole window (round-13 review):
        # every commit between the caller's read snapshot and now must
        # be file-disjoint, or the doomed positions / appended values
        # baked a stale view
        if read_version is not None:
            for iv in range(read_version + 1, v + 1):
                if self._dv_rebase_conflicts(iv, set(per_file), read_dnf):
                    raise ConcurrentWriteError(
                        f"table {self.name}: version {iv} (committed "
                        "after this transaction's read snapshot "
                        f"{read_version}) touched files or rows this "
                        f"{op} read or marks; re-run against the "
                        "current version"
                    )
        # stale-read guard (the CoW paths check their read snapshot;
        # the DV path must too): the doomed positions were computed
        # against the manifest the caller SCANNED — if a commit that
        # landed since (OPTIMIZE, a partition-scoped merge) retired any
        # referenced file, writing its DV would orphan the positions
        # and the delete-half would silently vanish (an UPDATE (DV)
        # would then duplicate rows). A collision AT the claim is
        # already conservative (discard + raise below); this closes
        # the scan→claim window before it.
        live_dirs = set(self._read_manifest(v).values())
        dead = [
            f for f in per_file if not _rel_covers(live_dirs, f)
        ]
        if dead:
            raise ConcurrentWriteError(
                f"table {self.name}: {op} references rows in files a "
                f"concurrent commit retired (e.g. {dead[0]}); re-run "
                "against the current version"
            )
        prev_dv, prev_n = self._read_dv(v)
        rows = doomed.select(
            F.col("__mt_key").alias("file"), F.col("__mt_pos").alias("pos")
        )
        touched_with_prev = [f for f in per_file if f in prev_dv]
        if touched_with_prev:
            rows = rows.unionByName(
                self._dv_rows({f: prev_dv[f] for f in touched_with_prev}).where(
                    F.col("file").isin(touched_with_prev)
                )
            )
        dv_rel = f"_dv/w={v + 1}-{uuid.uuid4().hex[:8]}"
        rows.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.location, dv_rel)
        )
        write_dir = None
        appended_files: dict[str, dict] = {}
        if append_df is not None:
            cols = [f.name for f in self.schema.fields]
            if append_materialized:
                cols = [*cols, "__row_id"]
            write_rel = f"data/w={v + 1}-{uuid.uuid4().hex[:8]}"
            write_dir = os.path.join(self.location, write_rel)
            staged_df = self._ansi_coerce(append_df.select(*cols))
            if self.sort_columns:
                staged_df = staged_df.sortWithinPartitions(*self.sort_columns)
            writer = self._to_physical(staged_df).write.mode("overwrite")
            if self.partition_columns:
                writer = writer.partitionBy(*self.partition_columns)
            writer.parquet(write_dir)
            self._enforce_constraints(write_dir)
            appended_files = self._collect_file_stats(write_dir)
            if self.bloom:
                try:
                    self._write_bloom_sidecars(write_dir, write_rel)
                except Exception:
                    pass  # rebuildable cache, never aborts the commit

        def _assemble_dv(base: int):
            """Manifest state for landing this DV transaction on top of
            version ``base`` — re-runnable against a racing winner's
            base (file-disjointness was proved by the rebase check, so
            the touched files' previous DV state at ``base`` equals
            their state at the read snapshot and the staged union
            parquet stays exact)."""
            entries_b = dict(self._read_manifest(base))
            stats_b = dict(self._read_stats(base))
            if write_dir is not None:
                # append semantics: the new dir COEXISTS with the
                # partition's existing entries (an update rewrites only
                # matched rows), so its entry key carries the write id;
                # a later partition-scoped merge replaces by BASE key
                # and drops both
                entries_b.update(
                    {
                        f"{k}@{write_rel}": rel
                        for k, rel in self._walk_staged(
                            write_dir, write_rel
                        ).items()
                    }
                )
                stats_b.update(appended_files)
            dv_b, n_b = self._read_dv(base)
            nd = {f: d for f, d in dv_b.items() if f not in per_file}
            nd.update({f: dv_rel for f in per_file})
            nn = {f: n for f, n in n_b.items() if f not in per_file}
            nn.update({f: n_b.get(f, 0) + c for f, c in per_file.items()})
            # row tracking: carried files keep their ids (DV deletes
            # don't shift positions); the appended dir mints fresh ones
            # — or, with ``append_materialized`` (merge-on-read
            # UPDATE), carries the matched rows' PRESERVED ids in-data
            rbb, rmm, rhh, rvv = self._carried_row_base(
                base, stats_b,
                materialized=(appended_files if append_materialized else ()),
                # append_mint (merge-on-read MERGE): the appended dir
                # interleaves id-carrying rewrites with NULL-id inserts
                # — a per-file base lets the NULLs resolve to base +
                # position ("partial" materialization)
                mint_materialized=append_mint,
            )
            return entries_b, stats_b, nd, nn, rbb, rmm, rhh, rvv

        def _discard():
            shutil.rmtree(
                os.path.join(self.location, dv_rel), ignore_errors=True
            )
            if write_dir is not None:
                shutil.rmtree(write_dir, ignore_errors=True)
                shutil.rmtree(
                    self._bloom_dir_for_root(write_rel), ignore_errors=True
                )

        (
            entries, stats, new_dv, new_n, rb, rm, rh, rv,
        ) = _assemble_dv(v)
        v_new = v + 1
        rebases = 0
        while True:
            if identity_claim:
                try:
                    self._claim_identity_bump(identity_claim, v_new - 1)
                except ConcurrentWriteError:
                    # a racing writer consumed ids: the staged insert
                    # rows carry collision-prone values — discard and
                    # let the caller re-mint
                    _discard()
                    raise
            try:
                self._write_manifest(
                    v_new, entries, stats, self._read_txn(v_new - 1),
                    op=op, dv=new_dv, dv_n=new_n,
                    row_base=rb, row_mat=rm, row_high=rh, row_ver=rv,
                )
                break
            except ConcurrentWriteError:
                # FILE-level disjoint rebase (see docstring): reuse the
                # staged dv/data files as-is and reassemble on the
                # winner's manifest when its write set is provably
                # disjoint from this transaction's touched files and
                # read predicate
                rebases += 1
                ok = (
                    v_new > 0 and rebases <= 16
                ) and self._rebind_for_disjoint_rebase(
                    v_new, None, None, (),
                    touched_keys=(), touched_dnf=None,
                    touched_files=set(per_file), file_read_dnf=read_dnf,
                )
                if not ok:
                    _discard()
                    raise
                v_new += 1
                (
                    entries, stats, new_dv, new_n, rb, rm, rh, rv,
                ) = _assemble_dv(v_new - 1)
        self._commit(v_new)
        if self.retain_versions is not None:
            self.vacuum(keep=self.retain_versions)
        return v_new

    def merge_delete(
        self,
        source: DataFrame,
        key_columns: Sequence[str],
        deletion_vectors: bool = True,
        read_filters: Sequence[Sequence[tuple]] | None = None,
    ) -> int:
        """Delta ``whenMatchedDelete`` parity: target rows whose key
        matches a source row are REMOVED; everything else carries over.
        The right-to-erasure primitive (delete all rows for a set of
        user ids) and the retraction half of a CDC apply.

        Default is merge-on-read (``deletion_vectors=True``): matched
        rows are marked in a DV sidecar, no data file is rewritten.
        ``deletion_vectors=False`` is the copy-on-write path,
        partition-scoped exactly like :meth:`merge_upsert` when the
        partition columns are part of the key.
        """
        self._check_append_only("MERGE DELETE")
        keys = list(key_columns)
        src_keys = source.select(*keys).distinct()
        if deletion_vectors:
            v_read = self.current_version()
            target = self._read_internal(v_read, with_pos=True)
            doomed = target.join(src_keys, on=keys, how="left_semi")
            # no caller-declared predicate → derive the key-set DNF
            # from the source (round 14): a racing add whose file
            # provably holds none of our keys could not have matched,
            # so the loser rebases instead of aborting
            dnf = (
                read_filters
                if read_filters is not None
                else self._source_key_dnf(src_keys, keys)
            )
            return self._delete_rows_dv(
                doomed, op="MERGE DELETE (DV)", read_dnf=dnf,
                read_version=v_read,
            )
        scoped = bool(self.partition_columns) and set(
            self.partition_columns
        ) <= set(keys)
        v_read = self.current_version()
        track = self._row_tracking_enabled()
        if track:
            # surviving rows carry their ids + versions through the
            # rewrite (a delete modifies no surviving row)
            target = self._track_read(v_read)
        else:
            target = self.read(v_read)
        drop_scope: set[str] = set()
        scope_keys: set[str] | None = None
        read_dnf = None
        if scoped:
            pf, tuples = self._source_partitions(source)
            if pf is None:
                return self.current_version()
            # the scoped entries are DROPPED and the survivors restaged:
            # a partition whose rows all matched must leave the manifest
            # (the staged write produces no dir for an empty partition —
            # restaging alone would silently resurrect it)
            drop_scope, scope_keys = self._scope_rels_keys(v_read, tuples)
            read_dnf = self._scope_dnf(tuples)
            target = target.filter(pf)
        else:
            read_dnf = [[]]
        # nothing matches → nothing to delete → commit-free no-op
        # (one limit-1 semi-join probe, vs a full rewrite)
        if target.join(src_keys, on=keys, how="left_semi").isEmpty():
            return self.current_version()
        kept = target.join(src_keys, on=keys, how="left_anti")
        return self._stage_and_commit(
            kept, replace_all=not scoped, op="MERGE DELETE",
            drop_rels=drop_scope,
            row_ids_materialized=track,
            read_version=v_read,
            read_keys=scope_keys,
            read_dnf=read_dnf,
        )

    def delete_where(
        self,
        condition: Column,
        deletion_vectors: bool = True,
        read_filters: Sequence[Sequence[tuple]] | None = None,
    ) -> int:
        """``DELETE FROM table WHERE ...`` parity.

        Default is merge-on-read (``deletion_vectors=True``): matching
        rows are marked in a deletion-vector sidecar — O(matches)
        written, zero data files rewritten, ``history`` records
        ``DELETE (DV)``. ``deletion_vectors=False`` is the
        copy-on-write rewrite (Delta's behavior with DVs disabled).

        SQL DELETE removes only rows where the predicate is TRUE; a
        NULL predicate (e.g. a NULL column compared with ``==``) means
        "not matched, keep" — hence the ``coalesce(cond, false)``
        (on the DV path the same coalesce SELECTS only true-matches),
        where a bare ``filter(~cond)`` would silently delete the
        NULL-predicate rows too (ADVICE r05).

        ``read_filters`` (optional, BOTH paths): ``condition`` as
        filter-triple DNF — the transaction's declared read predicate.
        With it, a claim-collision loser can rebase over a racing
        non-blind writer whose added files provably don't satisfy the
        predicate (file-level conflict detection; see
        :meth:`_delete_rows_dv`). Must be implied by ``condition``.

        The copy-on-write path is FILE-SCOPED (round 15, Delta's
        per-file CoW DML shape): only the data FILES containing
        matching rows are rewritten — their survivors restage, every
        other file (including untouched neighbors in the same entry
        dir, which re-enter the manifest as carry entries) carries over
        byte-identical — and the commit declares its write set as
        exactly the matched files, so it rides the same file-level
        conflict detection as the DV path (two CoW deletes on different
        files of the SAME entry of an UNPARTITIONED table land in
        parallel; a selective CoW delete on a 100 TB table rewrites
        only the matched files, not the snapshot). Matching zero rows
        is a commit-free no-op on both paths."""
        self._check_append_only("DELETE")
        if deletion_vectors:
            v_read = self.current_version()
            target = self._read_internal(v_read, with_pos=True)
            doomed = target.filter(F.coalesce(condition, F.lit(False)))
            return self._delete_rows_dv(
                doomed, op="DELETE (DV)", read_dnf=read_filters,
                read_version=v_read,
            )
        v_read = self.current_version()
        track = self._row_tracking_enabled()
        base_df = self._cow_meta_read(v_read, track)
        cond_t = F.coalesce(condition, F.lit(False))
        matched_files = self._cow_matched_files(base_df, cond_t)
        if not matched_files:
            return v_read  # nothing matched
        matched_files = self._cow_widen_ambiguous(matched_files, v_read)
        survivors = (
            base_df.filter(F.col("__mt_key").isin(matched_files))
            .filter(~cond_t)
            .drop("__mt_key", "__mt_pos")
        )
        return self._stage_and_commit(
            survivors,
            replace_all=False,
            append_only=True,
            op="DELETE",
            row_ids_materialized=track,
            read_version=v_read,
            touched_files=matched_files,
            file_read_dnf=read_filters,
            cow_rewrite_files=matched_files,
        )

    def update_where(
        self,
        assignments: Mapping[str, str | Column],
        condition: Column,
        deletion_vectors: bool = True,
        read_filters: Sequence[Sequence[tuple]] | None = None,
    ) -> int:
        """``UPDATE table SET col = expr, ... WHERE ...`` parity
        (Delta UPDATE). ``assignments`` maps target column -> new-value
        expression (a SQL string or a Column; expressions may reference
        any target column's OLD value, standard UPDATE semantics).

        Default is merge-on-read, Delta's UPDATE-with-DVs shape: the
        matched rows' old versions are marked dead in a deletion-vector
        sidecar and their rewritten versions are appended, both in ONE
        atomic commit — O(matches) written, untouched files never
        rewritten. ``deletion_vectors=False`` is the copy-on-write
        rewrite. A NULL WHERE predicate means "not matched, keep"
        (same coalesce discipline as :meth:`delete_where`); matching
        zero rows is a commit-free no-op. CHECK constraints bind on the
        rewritten rows."""
        self._check_append_only("UPDATE")
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        unknown = set(assignments) - set(cols)
        if unknown:
            raise ValueError(
                f"table {self.name}: UPDATE of unknown columns {sorted(unknown)}"
            )
        bad_id = sorted(set(assignments) & set(self.identity))
        if bad_id:
            # Delta refuses UPDATE on identity columns: they are
            # GENERATED ALWAYS — an assignment would break the
            # never-reused id contract (round 14)
            raise ValueError(
                f"table {self.name}: column(s) {bad_id} are GENERATED "
                "ALWAYS AS IDENTITY — UPDATE must not assign them"
            )
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        cond = F.coalesce(condition, F.lit(False))
        track = self._row_tracking_enabled()
        if deletion_vectors:
            v = self.current_version()
            if track:
                # merge-on-read UPDATE with row tracking: the rewritten
                # versions of the matched rows KEEP their ids — the ids
                # are materialized into the appended replacement file
                # (Delta's DML id preservation), while the old versions
                # go dead via the deletion vector
                df = self._scan_rels(
                    self._read_manifest(v).values(),
                    need_meta=True,
                    with_row_col=True,
                )
                df = self._attach_row_ids(df, v)
                dv_map, _ = self._read_dv(v)
                if dv_map:
                    df = df.join(
                        self._dv_rows(dv_map).select(
                            F.col("file").alias("__mt_key"),
                            F.col("pos").alias("__mt_pos"),
                        ),
                        ["__mt_key", "__mt_pos"],
                        "left_anti",
                    )
                matched = df.filter(cond)
                rewritten = self._regen_generated(
                    matched.select(
                        *[exprs.get(c, F.col(c)).alias(c) for c in cols],
                        F.col("_row_id").alias("__row_id"),
                    ),
                    assigned=set(exprs),
                )
                return self._delete_rows_dv(
                    matched, op="UPDATE (DV)", append_df=rewritten,
                    append_materialized=True, read_dnf=read_filters,
                    read_version=v,
                )
            target = self._read_internal(v, with_pos=True)
            matched = target.filter(cond)
            rewritten = self._regen_generated(
                matched.select(
                    *[exprs.get(c, F.col(c)).alias(c) for c in cols]
                ),
                assigned=set(exprs),
            )
            return self._delete_rows_dv(
                matched, op="UPDATE (DV)", append_df=rewritten,
                read_dnf=read_filters, read_version=v,
            )
        # per-file copy-on-write (round 15, same shape as
        # delete_where): only the FILES containing matched rows restage
        # (matched rows rewritten, their file-neighbors in the same
        # file ride along), everything else — other files of the same
        # entry included, via carry entries — carries over
        # byte-identical, and the write set is exactly the matched
        # files, so disjoint-file writers land in parallel
        v_read = self.current_version()
        base_df = self._cow_meta_read(v_read, track)
        matched_files = self._cow_matched_files(base_df, cond)
        if not matched_files:
            return v_read  # nothing matched
        matched_files = self._cow_widen_ambiguous(matched_files, v_read)
        scoped_df = base_df.filter(F.col("__mt_key").isin(matched_files))
        updated = scoped_df.select(
            *[
                F.when(cond, exprs[c]).otherwise(F.col(c)).alias(c)
                if c in exprs
                else F.col(c)
                for c in cols
            ],
            # ids survive the update; the matched rows' last-modified
            # version bumps to this commit (NULL → file-level fallback)
            *(
                [
                    F.col("__row_id"),
                    F.when(
                        cond, F.lit(None).cast("long")
                    ).otherwise(F.col("__row_ver")).alias("__row_ver"),
                ]
                if track
                else []
            ),
        )
        # unassigned generated columns recompute against the post-
        # assignment values (no-op for unmatched rows: stored == expr
        # by the generation CHECK invariant)
        updated = self._regen_generated(updated, assigned=set(exprs))
        return self._stage_and_commit(
            updated,
            replace_all=False,
            append_only=True,
            op="UPDATE",
            row_ids_materialized=track,
            read_version=v_read,
            touched_files=matched_files,
            file_read_dnf=read_filters,
            cow_rewrite_files=matched_files,
        )

    def merge_update(
        self,
        source: DataFrame,
        key_columns: Sequence[str],
        set_map: Mapping[str, str] | None = None,
    ) -> int:
        """S6: update-matched-only (DLQ status refresh). Target rows with a
        source match take the source's values for ``set_map`` entries
        (target_col -> source column or expression, ``"alias.col"`` accepted
        for reference parity); unmatched target rows unchanged; unmatched
        source rows ignored. Raises if the source has duplicate keys —
        Delta MERGE errors on multiple matches; silently picking one would
        mask source-data bugs.

        Partition-scoped when partition columns are part of the key AND
        no partition column is updated (an update moving a row across
        partitions must rewrite both sides — full rewrite handles it).
        """
        self._check_append_only("MERGE UPDATE")
        v_read = self.current_version()
        track = self._row_tracking_enabled()
        if track:
            # updated rows keep their ids (materialized through the
            # rewrite); no row is added or removed by an update-only
            # merge, so every staged row carries one. Matched rows'
            # last-modified versions bump (NULL __row_ver below).
            target = self._track_read(v_read)
        else:
            target = self.read(v_read)
        keys = list(key_columns)
        if set_map is None:
            resolved = {
                c: c for c in target.columns if c not in keys and c in source.columns
            }
        else:
            resolved = {}
            for tgt_col, src_expr in set_map.items():
                expr = src_expr
                # reference passes "updates.col" strings; strip the alias
                if "." in expr and expr not in source.columns:
                    candidate = expr.split(".", 1)[1]
                    if candidate in source.columns:
                        expr = candidate
                resolved[tgt_col] = expr
        bad_id = sorted(set(resolved) & set(self.identity))
        if bad_id:
            # Delta refuses updates to identity columns (GENERATED
            # ALWAYS); this also catches the implicit set_map=None
            # resolution when the source happens to carry the column
            raise ValueError(
                f"table {self.name}: column(s) {bad_id} are GENERATED "
                "ALWAYS AS IDENTITY — MERGE UPDATE must not assign them"
            )
        dup = (
            source.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                f"merge_update into {self.name}: source has duplicate keys on "
                f"{keys} — Delta MERGE raises on multiple matches"
            )
        scoped = (
            bool(self.partition_columns)
            and set(self.partition_columns) <= set(keys)
            and not (set(resolved) & set(self.partition_columns))
        )
        drop_scope: set[str] = set()
        scope_keys: set[str] | None = None
        read_dnf = None
        if scoped:
            pf, tuples = self._source_partitions(source)
            if pf is None:
                return self.current_version()
            drop_scope, scope_keys = self._scope_rels_keys(v_read, tuples)
            read_dnf = self._scope_dnf(tuples)
            target = target.filter(pf)
        else:
            read_dnf = [[]]
        # no matched target row → update-only merge is a commit-free
        # no-op (one limit-1 semi-join probe, vs a full rewrite)
        if target.join(
            source.select(*keys).distinct(), on=keys, how="left_semi"
        ).isEmpty():
            return self.current_version()
        src = source.select(
            *keys, *[F.expr(e).alias(f"__src_{c}") for c, e in resolved.items()]
        )
        src_key_marker = "__src_match"
        joined = target.join(src.withColumn(src_key_marker, F.lit(True)), on=keys, how="left")
        out_cols = []
        for c in target.columns:
            if c in resolved:
                out_cols.append(
                    F.when(F.col(src_key_marker), F.col(f"__src_{c}"))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            elif c == "__row_ver":
                # matched rows were modified: their last-modified
                # version becomes this commit (NULL → file fallback)
                out_cols.append(
                    F.when(
                        F.col(src_key_marker), F.lit(None).cast("long")
                    ).otherwise(F.col(c)).alias(c)
                )
            else:
                out_cols.append(F.col(c))
        return self._stage_and_commit(
            joined.select(*out_cols), replace_all=not scoped, op="MERGE UPDATE",
            drop_rels=drop_scope,
            row_ids_materialized=track,
            read_version=v_read,
            read_keys=scope_keys,
            read_dnf=read_dnf,
        )

    def merge_clauses(
        self,
        source: DataFrame,
        key_columns: Sequence[str],
        matched: Sequence[tuple] = (),
        not_matched: Sequence[tuple] = (),
        not_matched_by_source: Sequence[tuple] = (),
        deletion_vectors: bool = False,
    ) -> int:
        """Delta's FULL conditional MERGE: an ordered clause list per
        match class, first-true-condition-fires — the general form
        behind ``whenMatchedUpdate(condition=...)``,
        ``whenNotMatchedInsert(values=...)`` and
        ``whenNotMatchedBySourceDelete()`` (the snapshot-sync shape:
        make the target equal the source, deleting rows the source no
        longer carries).

        Each clause is ``(condition, action)``; ``condition`` is a SQL
        string or Column (None = unconditional), evaluated in a scope
        where TARGET columns are bare names and SOURCE columns are
        ``src.<name>``. Actions:

        - ``matched``: ``"delete"`` or a ``{target_col: expr}`` update
          map (exprs may reference both scopes).
        - ``not_matched``: ``"insert_all"`` (source row verbatim) or a
          ``{target_col: expr}`` insert map — unnamed columns become
          NULL, Delta's INSERT (cols) VALUES semantics. Exprs see only
          the source scope.
        - ``not_matched_by_source``: ``"delete"`` or an update map
          (target scope only — there is no source row).

        A row no clause fires on carries over unchanged (matched /
        by-source) or is ignored (not-matched source row) — exactly
        Delta's semantics, including NULL conditions counting as not
        fired.

        Scale shape: one full-outer shuffle join on the keys decides
        every row's clause. Partition-scoped like :meth:`merge_upsert`
        when the partition columns are part of the key AND no by-source
        clause exists (a by-source clause must see every target row —
        same reason Delta's by-source merges can't prune). Otherwise
        the copy-on-write commit is ENTRY-SCOPED (round 14): only the
        manifest entries holding fired rows restage, everything else
        carries over byte-identical, and the write set is declared at
        file granularity so disjoint merges on unpartitioned tables
        land in parallel — O(touched files + inserts) written, never
        O(table). Duplicate source keys raise when any matched /
        by-source clause exists (Delta's "multiple source rows matched"
        error).

        ``deletion_vectors=True`` is the MERGE-ON-READ shape (round 13,
        Delta's MERGE with DVs): matched/by-source rows a clause fires
        on go dead via a deletion-vector sidecar and their rewritten
        versions (plus inserts) land in ONE appended dir — O(changed
        rows) written, untouched rows' files never rewritten, on ANY
        table including unpartitioned ones. The commit's write set is
        the exact touched files, so it rides file-level conflict
        detection: two merges on disjoint key ranges land in parallel
        even without partitions (``_delete_rows_dv``).

        Identity-column tables work on BOTH paths (round 14): when the
        source omits the identity columns, matched rewrites keep the
        target's ids and not-matched inserts mint fresh ones against
        the high watermark, whose claim commits atomically with the
        merge (a racing consumer of the same watermark loses and
        re-mints — Delta's identity conflict rule).

        Tables with generated or identity columns require insert maps
        to be ``"insert_all"`` (the specialized :meth:`merge_upsert` /
        :meth:`merge_insert_only` own those flows).
        """
        keys = list(key_columns)
        if not (matched or not_matched or not_matched_by_source):
            raise ValueError("merge_clauses: no WHEN clauses given")
        if matched or not_matched_by_source:
            self._check_append_only("MERGE with matched/by-source clauses")
        if self.schema is None:
            self.schema = self._load_schema()
        cols = [f.name for f in self.schema.fields]
        if (self.generated or self.identity) and any(
            a != "insert_all" for _c, a in not_matched
        ):
            raise ValueError(
                f"table {self.name}: insert maps on a table with "
                "generated/identity columns are not supported; use "
                "INSERT * or merge_upsert"
            )

        def _canon(text):
            """src.<col> → __src_<col> (string exprs only)."""
            if not isinstance(text, str):
                return text
            return re.sub(
                r"(?<![A-Za-z0-9_`])src\.([A-Za-z_][A-Za-z0-9_]*)",
                r"__src_\1",
                text,
            )

        def _cond(c) -> Column:
            if c is None:
                return F.lit(True)
            c = F.expr(_canon(c)) if isinstance(c, str) else c
            return F.coalesce(c, F.lit(False))  # NULL = not fired

        if matched or not_matched_by_source:
            dup = (
                source.groupBy(*keys)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"merge_clauses into {self.name}: source has duplicate "
                    f"keys on {keys} — Delta MERGE raises on multiple matches"
                )
        # an update map assigning a partition column can move a row to a
        # partition OUTSIDE the source's partitions; scoping would then
        # stage that destination partition while having excluded its
        # unmatched rows from the join — base-key replacement would
        # silently drop them. Same guard as merge_update: fall back to
        # the full-table pass (ADVICE r09). Insert maps are unsafe too
        # (ADVICE r10): a map assigning a partition column can land the
        # row anywhere, and a map OMITTING one inserts NULL — partition
        # (NULL) — so only "insert_all" (partition values come verbatim
        # from the source row, inside the scoped set) keeps scoping.
        _pcols = set(self.partition_columns)
        _keyset = set(keys)

        def _moves_partition(a, *, insert=False) -> bool:
            """True if this update/insert map can land a row outside
            the source's partitions. Verbatim assignments are exempt
            (round-13: SQL ``UPDATE SET *`` canonicalizes to a full
            column map, which must not forfeit partition scoping):
            on a MATCHED row the join equality pins ``src.p == p`` for
            a key column, so assigning either spelling keeps the row
            in place; an insert map assigning EVERY partition column
            exactly ``src.<p>`` lands the row verbatim inside the
            scoped set, same as ``insert_all``."""
            if not isinstance(a, Mapping):
                return False
            if insert:
                return any(
                    not (
                        isinstance(a.get(p), str)
                        and a[p].strip() == f"src.{p}"
                    )
                    for p in _pcols
                )
            for p in set(a) & _pcols:
                v = a[p].strip() if isinstance(a[p], str) else None
                if v == p:  # identity assignment — keeps the value
                    continue
                if v == f"src.{p}" and p in _keyset:
                    continue  # join equality: src.p == p on matches
                return True
            return False

        _updates_partition_col = any(
            _moves_partition(a) for _c, a in [*matched, *not_matched_by_source]
        ) or any(_moves_partition(a, insert=True) for _c, a in not_matched)
        scoped = (
            not not_matched_by_source
            and bool(self.partition_columns)
            and set(self.partition_columns) <= set(keys)
            and not _updates_partition_col
        )
        id_claim = None
        if self.identity:
            # GENERATED ALWAYS: no clause may assign an identity column
            for _cc, a in [*matched, *not_matched, *not_matched_by_source]:
                if isinstance(a, Mapping) and set(a) & set(self.identity):
                    bad = sorted(set(a) & set(self.identity))
                    raise ValueError(
                        f"table {self.name}: column(s) {bad} are "
                        "GENERATED ALWAYS AS IDENTITY — MERGE clauses "
                        "must not assign them"
                    )
            missing_ident = sorted(
                c for c in self.identity if c not in source.columns
            )
            if missing_ident:
                # matched rewrites keep the TARGET's ids (the out-column
                # default expr); the fill mints fresh ids only for the
                # not-matched source rows an insert clause may land, and
                # the claim commits atomically with the merge (round 14
                # — Delta's identity-under-MERGE high-watermark rule,
                # on BOTH the CoW and the merge-on-read path)
                source, id_claim = self._merge_fill_identity(
                    source, keys, missing_ident
                )
        v_read = self.current_version()
        track = self._row_tracking_enabled()
        drop_scope: set[str] = set()
        scope_keys: set[str] | None = None
        read_dnf = None
        # entry-scoped copy-on-write (round 14): an UNSCOPED CoW merge
        # previously replaced the full snapshot — O(table) written for
        # any merge on an unpartitioned table, and any claim collision
        # aborted. Now only the entries containing FIRED target rows
        # restage (their keeps carried into the restage, everything
        # else byte-identical), with the write set declared at file
        # granularity like the DV path.
        entry_scoped = not deletion_vectors and not scoped
        if deletion_vectors or entry_scoped:
            # materialize the source ONCE (Delta materializes merge
            # sources for the same reasons): it feeds several consumers
            # — dup check, isEmpty probe, the outer join (twice for the
            # scoped shapes: touched-file agg + the staged write), and
            # the read-bounds agg — and re-running an expensive or
            # nondeterministic source query per consumer is both slow
            # and a correctness hazard (round-13 review)
            source = source.localCheckpoint(eager=True)
        if deletion_vectors or entry_scoped:
            # meta-carrying read (the DV key space: __mt_key/__mt_pos
            # of every visible row); with row tracking, ids attach so
            # updated rows carry them into the appended rewrite
            target = self._cow_meta_read(v_read, track)
            if deletion_vectors and scoped:
                # join pruning only — the commit is file-scoped, no
                # entries are dropped or restaged
                pf, _tuples = self._source_partitions(source)
                if pf is None:
                    return self.current_version()
                target = target.filter(pf)
        elif track:
            # carried/updated rows keep their ids in-data through the
            # rewrite; insert-clause rows have no target side (NULL
            # __row_id) and mint base + position. Last-modified
            # versions: only "keep" rows preserve theirs — any fired
            # clause modified the row
            target = self._track_read(v_read)
        else:
            target = self.read(v_read)
        if not deletion_vectors:
            if scoped:
                pf, tuples = self._source_partitions(source)
                if pf is None:
                    return self.current_version()  # empty source, no by-source
                # scoped entries are dropped + survivors restaged: a
                # matched DELETE clause can empty a partition, which
                # must then leave the manifest (no staged dir is
                # written for it)
                drop_scope, scope_keys = self._scope_rels_keys(v_read, tuples)
                read_dnf = self._scope_dnf(tuples)
                target = target.filter(pf)
            else:
                read_dnf = [[]]
        if not not_matched_by_source and source.isEmpty():
            return self.current_version()
        src = source.select(
            *[F.col(c).alias(f"__src_{c}") for c in source.columns]
        ).withColumn("__src_m", F.lit(True))
        tgt = target.withColumn("__tgt_m", F.lit(True))
        # standard equality — a NULL key matches nothing, exactly the
        # SQL ON semantics Delta (and the DuckDB oracle) use
        join_cond = reduce(
            lambda a, b: a & b,
            [tgt[k] == src[f"__src_{k}"] for k in keys],
        )
        joined = tgt.join(src, join_cond, "full_outer")
        is_m = F.col("__tgt_m").isNotNull() & F.col("__src_m").isNotNull()
        is_i = F.col("__tgt_m").isNull()
        # first-true clause index per class, else the class default
        def _first(clauses, prefix, default):
            out = F.lit(default)
            for i in range(len(clauses) - 1, -1, -1):
                out = F.when(_cond(clauses[i][0]), F.lit(f"{prefix}{i}")).otherwise(out)
            return out

        act = (
            F.when(is_m, _first(matched, "m", "keep"))
            .when(is_i, _first(not_matched, "i", "drop"))
            .otherwise(_first(not_matched_by_source, "s", "keep"))
        )
        joined = joined.withColumn("__act", act)
        dead = {"drop"}
        dead.update(
            f"m{i}" for i, (_c, a) in enumerate(matched) if a == "delete"
        )
        dead.update(
            f"s{i}"
            for i, (_c, a) in enumerate(not_matched_by_source)
            if a == "delete"
        )
        if deletion_vectors:
            # only rows a clause FIRED on are rewritten/appended; keep
            # rows stay in their files untouched (the whole point)
            live = sorted(
                {
                    f"m{i}"
                    for i, (_c, a) in enumerate(matched)
                    if a != "delete"
                }
                | {f"i{i}" for i in range(len(not_matched))}
                | {
                    f"s{i}"
                    for i, (_c, a) in enumerate(not_matched_by_source)
                    if a != "delete"
                }
            )
            kept = joined.filter(F.col("__act").isin(live))
        elif entry_scoped:
            # per-file CoW: restage only the FILES holding FIRED
            # target rows — their keep-rows ride along (the file is
            # replaced), every other file carries over via the
            # manifest (untouched neighbors in a fired file's entry
            # become carry entries); insert rows (no target side)
            # always stage
            fired_files = sorted(
                {
                    r["__mt_key"]
                    for r in joined.filter(
                        F.col("__tgt_m").isNotNull()
                        & (F.col("__act") != "keep")
                    )
                    .select("__mt_key")
                    .distinct()
                    .collect()
                }
            )
            if fired_files:
                fired_files = self._cow_widen_ambiguous(
                    fired_files, v_read
                )
            kept = joined.filter(
                (
                    F.col("__tgt_m").isNull()
                    | F.col("__mt_key").isin(fired_files)
                )
                & ~F.col("__act").isin(sorted(dead))
            )
            if not fired_files and kept.isEmpty():
                return self.current_version()  # nothing fired: no-op
        else:
            kept = joined.filter(~F.col("__act").isin(sorted(dead)))
        out_cols = []
        for f in self.schema.fields:
            c = f.name
            expr = F.col(c)  # "keep" and unnamed update columns
            for i, (_cc, a) in enumerate(matched):
                if isinstance(a, Mapping) and c in a:
                    v = a[c]
                    v = F.expr(_canon(v)) if isinstance(v, str) else v
                    expr = F.when(F.col("__act") == f"m{i}", v).otherwise(expr)
            for i, (_cc, a) in enumerate(not_matched):
                if a == "insert_all":
                    v = F.col(f"__src_{c}")
                elif isinstance(a, Mapping) and c in a:
                    v = a[c]
                    v = F.expr(_canon(v)) if isinstance(v, str) else v
                else:  # unnamed insert column → NULL (Delta semantics)
                    v = F.lit(None)
                expr = F.when(F.col("__act") == f"i{i}", v).otherwise(expr)
            for i, (_cc, a) in enumerate(not_matched_by_source):
                if isinstance(a, Mapping) and c in a:
                    v = a[c]
                    v = F.expr(_canon(v)) if isinstance(v, str) else v
                    expr = F.when(F.col("__act") == f"s{i}", v).otherwise(expr)
            out_cols.append(expr.cast(f.dataType).alias(c))
        if track:
            out_cols.append(F.col("__row_id"))  # NULL on insert rows
            out_cols.append(
                F.when(F.col("__act") == "keep", F.col("__row_ver"))
                .otherwise(F.lit(None).cast("long"))
                .alias("__row_ver")
            )
        # generated columns regenerate PER CLAUSE (ADVICE r12 medium):
        # a global assigned-set union would skip regeneration on rows
        # fired by a clause that assigned only the column's INPUTS,
        # leaving a stale generated value (misleading CHECK abort or a
        # persisted invariant violation). A row keeps its value only
        # when ITS firing clause explicitly assigned the generated
        # column; every other row recomputes against post-assignment
        # inputs.
        gen_keep_acts: dict[str, set[str]] = {}
        for prefix, clauses in (
            ("m", matched), ("i", not_matched), ("s", not_matched_by_source)
        ):
            for i, (_cc, a) in enumerate(clauses):
                if isinstance(a, Mapping):
                    for c in a:
                        if c in self.generated:
                            gen_keep_acts.setdefault(c, set()).add(
                                f"{prefix}{i}"
                            )
        result = kept.select(*out_cols, F.col("__act"))
        for g, spec in self.generated.items():
            if g not in result.columns:
                continue
            regen = F.expr(spec["expr"])
            acts = sorted(gen_keep_acts.get(g, ()))
            # "keep" rows hold a value already consistent with their
            # (unchanged) inputs; recomputing is a no-op for them
            if acts:
                regen = F.when(
                    F.col("__act").isin(acts), F.col(g)
                ).otherwise(regen)
            result = result.withColumn(g, regen)
        result = result.drop("__act")
        if deletion_vectors:
            # merge-on-read commit: the fired target-side rows' old
            # versions die via the vector, the rewritten/inserted rows
            # append, atomically. The declared read predicate is per
            # key column: the exact DISTINCT KEY SET when small enough
            # (round 14 — an ``in`` triple, so a SPARSE key set
            # scattered across the table's range no longer declares
            # the whole range read and serializes against every racing
            # add inside it), else the BETWEEN over the source's key
            # bounds. Both are sound supersets of the rows the keyed
            # join could read (one tiny source agg each) — a racing
            # non-blind writer whose added files provably carry no
            # declared key stays disjoint and the loser rebases. A
            # by-source clause reads every target row: its predicate
            # is "everything".
            if not_matched_by_source:
                merge_read_dnf: Sequence[Sequence[tuple]] | None = [[]]
            else:
                merge_read_dnf = self._source_key_dnf(source, keys)
            doomed = joined.filter(
                F.col("__tgt_m").isNotNull() & (F.col("__act") != "keep")
            ).select("__mt_key", "__mt_pos")
            return self._delete_rows_dv(
                doomed,
                op="MERGE (DV)",
                append_df=result,
                append_materialized=track,
                append_mint=track,
                read_dnf=merge_read_dnf,
                read_version=v_read,
                identity_claim=id_claim,
            )
        if entry_scoped:
            # per-file CoW commit: retire exactly the fired files,
            # restage their transformed rows + inserts as one new
            # append entry (untouched neighbors of a fired file's
            # entry become carry entries in the assembly), declare
            # the write set as the fired files plus the read
            # predicate — by-source merges read everything, keyed
            # merges read their key set (same DNF as the DV path)
            merge_read_dnf = (
                [[]]
                if not_matched_by_source
                else self._source_key_dnf(source, keys)
            )
            return self._stage_and_commit(
                result,
                replace_all=False,
                append_only=True,
                op="MERGE",
                identity_claim=id_claim,
                row_ids_materialized="partial" if track else False,
                read_version=v_read,
                touched_files=fired_files,
                file_read_dnf=merge_read_dnf,
                cow_rewrite_files=fired_files,
            )
        return self._stage_and_commit(
            result, replace_all=not scoped, op="MERGE",
            identity_claim=id_claim,
            drop_rels=drop_scope,
            row_ids_materialized="partial" if track else False,
            read_version=v_read,
            read_keys=scope_keys,
            read_dnf=read_dnf,
        )


def convert_to_managed(
    spark: SparkSession,
    name: str,
    location: str,
    source_dir: str,
    partition_columns: Sequence[str] = (),
) -> ManagedTable:
    """Delta ``CONVERT TO DELTA parquet.`/path/``` parity: adopt an
    existing plain-parquet directory as a ManagedTable WITHOUT
    rewriting a byte — manifest v0 references the source files by
    absolute path (the same key space shallow clones use), footer
    stats are harvested so data skipping works immediately, and the
    hive partition layout (``col=value`` dirs) becomes the table's
    partitioning.

    Scale shape: O(files) metadata — one footer read per file, zero
    data pages. After conversion the table is fully first-class:
    DML runs merge-on-read (DVs key the absolute paths), OPTIMIZE /
    CLUSTER materialize into the table's own location, and vacuum's
    path-containment guard never deletes the adopted source files
    (Delta's rule for converted/cloned data).

    The source directory must not change out-of-band afterwards —
    the same contract Delta's CONVERT documents (it takes ownership
    of the files)."""
    src = os.path.abspath(source_dir)
    if not os.path.isdir(src):
        raise FileNotFoundError(f"CONVERT: source dir {src!r} missing")
    t = ManagedTable(
        spark, name, location, partition_columns=list(partition_columns)
    )
    if t.exists():
        raise FileExistsError(
            f"CONVERT: table {name} already exists at {location}"
        )
    # schema inference picks up hive partition columns from the layout
    t.schema = spark.read.parquet(src).schema
    missing = set(partition_columns) - {f.name for f in t.schema.fields}
    if missing:
        raise ValueError(
            f"CONVERT: partition column(s) {sorted(missing)} not found "
            "in the source layout"
        )
    entries = t._walk_staged(src, src)  # absolute rels, like a clone
    if not entries or not any(
        fn.endswith(".parquet")
        for _d, _s, fns in os.walk(src)
        for fn in fns
    ):
        raise ValueError(f"CONVERT: no parquet files under {src!r}")
    stats = t._collect_file_stats(src, key_base=None)
    t._save_schema()
    t._write_manifest(0, entries, stats, {}, op=f"CONVERT {src}")
    t._commit(0)
    return t
