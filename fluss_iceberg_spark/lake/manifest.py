"""The manifest of a lake table: which data files a snapshot holds, how
many rows they carry, and which deletes still apply to them.

One home for the snapshot record (``Snapshot``, the document behind
``meta/v{N}.json``) and for every per-file rule that the writers, the
readers, the metadata tables and the Iceberg export share:

- path conventions of the data layout: the write sequence of
  ``data/s{N}/``, the PK-hash bucket of ``__bucket={b}``, the hidden
  partition values of ``__p_<name>=<value>``, and the files a write left;
- the manifest entry of a data file new to a snapshot: footer row count,
  byte size and column bounds, partition values, value sets and blooms;
- delete accounting: which position and equality delete files still
  apply, per-file tombstone counts, and the tombstoned-row total;
- file skipping: stat encoding, the bounds / value-set / bloom test and
  the partition test.

Standard library, pyarrow and numpy only, so engine-free code
(lake/iceberg_meta.py) applies the same rules.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field

# ---------- path conventions ----------

# Data files live under data/s{N}/, N being the id of the snapshot whose
# write produced them — the Iceberg data-sequence-number role that scopes
# equality deletes to files written BEFORE the delete. Each write has its
# own directory below that, data/s{N}/<uuid>/ (tables written before that
# rule hold data/s{N}/ files directly; both read alike). Spark scans
# extract the same fields from a file path with these patterns
# (regexp_extract).
DATA_SEQ_PATTERN = r"data/s(\d+)/"
DATA_RELPATH_PATTERN = r"(data/s\d+/.+)$"
_FILE_SEQ_RE = re.compile(DATA_SEQ_PATTERN)


def _file_seq(relpath: str) -> int:
    """Write sequence of a data file: the N of its ``data/s{N}/`` path."""
    m = _FILE_SEQ_RE.match(relpath)
    return int(m.group(1)) if m else -1


def _bucket_of_path(relpath: str) -> int | None:
    """PK-hash bucket of a data file: the b of its ``__bucket={b}`` dir."""
    for part in relpath.split(os.sep):
        if part.startswith("__bucket="):
            return int(part.split("=", 1)[1])
    return None


def _parse_partition_path_value(raw: str):
    """Decode one ``name=value`` directory component value the way Spark
    wrote it (URL-escaped; __HIVE_DEFAULT_PARTITION__ for null)."""
    v = urllib.parse.unquote(raw)
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        return int(v)
    except ValueError:
        return v


def _partition_values_from_path(relpath: str) -> dict:
    """Partition record of one data file, parsed from its
    ``__p_<name>=<value>`` directory components (the writer's directory
    layout IS the authoritative value — every row in the file shares it
    by construction)."""
    vals: dict = {}
    for comp in relpath.split(os.sep)[:-1]:
        if comp.startswith("__p_") and "=" in comp:
            k, _, raw = comp[4:].partition("=")
            vals[k] = _parse_partition_path_value(raw)
    return vals


def written_files(tpath: str, rel_dir: str) -> list[str]:
    """Table-relative paths, sorted, of the parquet files a write left
    under ``rel_dir`` — bucket and partition directories included."""
    out = []
    for root, _dirs, names in os.walk(os.path.join(tpath, rel_dir)):
        out += [
            os.path.relpath(os.path.join(root, n), tpath)
            for n in names
            if n.endswith(".parquet") and not n.startswith("_")
        ]
    return sorted(out)


# ---------- manifest entry of a new data file ----------


def _stat_encode(v):
    """Encode a parquet-footer min/max value as a JSON-safe tagged value.
    Dates/timestamps become ISO strings (lexicographic == chronological),
    decimals keep their exact digits as strings. Unsupported types (bytes,
    nested) encode as None = "no stat", which pruning treats as
    "may contain anything"."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return {"d": str(v)}
    if isinstance(v, (datetime.datetime, datetime.date)):
        return {"t": v.isoformat()}
    return None


def _stat_decode(v):
    """Decode to a Python value comparable against a user literal run
    through ``_stat_canon``."""
    if isinstance(v, dict):
        return decimal.Decimal(v["d"]) if "d" in v else v["t"]
    return v


def _stat_canon(lit):
    """Canonicalize a predicate literal into the ``_stat_decode`` domain."""
    if isinstance(lit, (datetime.datetime, datetime.date)):
        return lit.isoformat()
    return lit


def _file_column_stats(abspath: str) -> dict:
    """Per-file metadata from the parquet footer: row count, byte size, and
    per-column [min, max] aggregated across row groups — the record an
    Iceberg manifest entry carries (lower_bounds/upper_bounds). Reading is
    footer-only (O(KB) per file, no data pages). On a cluster the writer
    tasks would report these with the commit message; the stand-in reads
    the footer at commit time, which is still O(#new files) metadata I/O.
    parquet-mr truncates long binary stats but keeps them valid bounds, so
    pruning against them stays conservative."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abspath).metadata
    cols = [md.schema.column(i) for i in range(md.num_columns)]
    names = [c.name for c in cols]
    # pyarrow can't logically cast DECIMAL stats (raises); decode the raw
    # unscaled representation (INT64 or big-endian FLBA) ourselves
    dec_scale = {
        c.name: c.scale for c in cols if c.logical_type.type == "DECIMAL"
    }

    def _decode_raw_decimal(raw, scale: int) -> decimal.Decimal:
        unscaled = (
            int.from_bytes(raw, "big", signed=True) if isinstance(raw, bytes) else raw
        )
        return decimal.Decimal(unscaled).scaleb(-scale)

    mins: dict = {}
    maxs: dict = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i, name in enumerate(names):
            try:
                st = rg.column(i).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no stats")
                if name in dec_scale:
                    lo = _stat_encode(_decode_raw_decimal(st.min_raw, dec_scale[name]))
                    hi = _stat_encode(_decode_raw_decimal(st.max_raw, dec_scale[name]))
                else:
                    lo, hi = _stat_encode(st.min), _stat_encode(st.max)
            except Exception:  # stats not extractable for this physical type
                mins[name] = maxs[name] = None
                continue
            if lo is None or hi is None or name in mins and mins[name] is None:
                mins[name] = maxs[name] = None
                continue
            if name not in mins:
                mins[name], maxs[name] = lo, hi
            else:
                mins[name] = min(mins[name], lo, key=_stat_decode)
                maxs[name] = max(maxs[name], hi, key=_stat_decode)
    stats = {
        n: [mins[n], maxs[n]] for n in names if mins.get(n) is not None
    }
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(abspath),
        "stats": stats,
    }


_VALUE_SET_CAP = 64

_BLOOM_BITS = 2048   # 256 B/column/file in the manifest — negligible
_BLOOM_K = 4         # legacy hash count (r6 manifests; kept for reads)
# v2 bloom parameters, sized for IN-LIST probing: a micro-batch state
# probe tests THOUSANDS of keys per file, so the per-key FPR must be
# << 1/|probe| or false positives keep every file (measured: at 10
# bits/key + k=4 a 3,300-key probe kept 97% of state files — the probe
# pruned nothing). At 32 bits/key + k=20 the per-key FPR is ~2e-7, so
# even a 10k-key probe keeps a non-colliding file with p < 1%. Probe
# cost stays O(1) per miss (the all() early-exits after ~2 bit tests at
# 0.46 fill); write cost is 20 cheap double-hash positions per value.
_BLOOM_BITS_PER_VALUE = 32
_BLOOM_K_V2 = 20


def _bloom_canon(value) -> str | None:
    """Canonical hash input for a bloomable value. Strings and integers
    only: their textual form is identical on the write side (pyarrow
    python values) and the predicate side (SQL literal), so both hash
    alike. Floats/timestamps are excluded — representation drift between
    writer and predicate would silently break membership."""
    if isinstance(value, str):
        return value
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    return None


def _bloom_positions(value, m: int = _BLOOM_BITS, k: int = _BLOOM_K):
    """k bit positions via Kirsch–Mitzenmacher double hashing over one
    blake2b digest (deterministic across processes — unlike hash()).
    Memoized on (canonical value, m, k): IN-list pruning re-tests every
    probe key against EVERY candidate file's bloom, and re-digesting
    per (file × member) pair would serialize millions of driver-side
    hashes per planning call."""
    s = _bloom_canon(value)
    if s is None:
        return None
    return list(_bloom_positions_cached(s, m, k))


def _bloom_digest(s: str) -> bytes:
    """16-byte blake2b digest of a canonical value: h1 is its first 8
    bytes, h2 its last 8, both little-endian."""
    import hashlib

    return hashlib.blake2b(s.encode("utf-8"), digest_size=16).digest()


@functools.lru_cache(maxsize=1 << 17)
def _bloom_positions_cached(s: str, m: int, k: int) -> tuple:
    d = _bloom_digest(s)
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return tuple((h1 + i * h2) % m for i in range(k))


def _bloom_of(values: list) -> dict | None:
    """The manifest bloom of one file column's distinct values, sized to
    their count at ``_BLOOM_BITS_PER_VALUE`` (IN-probe-grade FPR — see
    the constant's note): a fixed 2048-bit filter saturates (all-ones,
    prunes nothing) on files with thousands of distincts — e.g. LSH
    bucket-state files at 16 keys/doc. Capped at 2^21 bits = 256 KB of
    hex worst-case per file/column (full strength to ~65k distincts;
    beyond that the filter degrades gracefully toward keep-everything
    rather than bloating every snapshot read). None when the column has
    no bloomable value."""
    import numpy as np

    m = _BLOOM_BITS
    while m < _BLOOM_BITS_PER_VALUE * len(values) and m < (1 << 21):
        m *= 2
    # one digest per value in Python, the k positions and the bit array in
    # numpy: a Python loop over the 20 positions of each value cost 0.21 s
    # of CPU per 15k-value file, this 0.03 s. The positions equal
    # ``_bloom_positions_cached``'s: m is a power of two, so
    # (h1 + i*h2) mod 2^64 mod m is exact. Writes leave that LRU to probes.
    digests = bytearray()
    for v in values:
        s = _bloom_canon(v)
        if s is None:
            return None
        digests += _bloom_digest(s)
    h = np.frombuffer(bytes(digests), dtype="<u8").reshape(-1, 2)
    i = np.arange(_BLOOM_K_V2, dtype=np.uint64)
    pos = (h[:, :1] + i * (h[:, 1:] | np.uint64(1))) & np.uint64(m - 1)
    hit = np.zeros(m, dtype=bool)
    hit[pos.ravel()] = True
    buf = np.packbits(hit, bitorder="little").tobytes()
    bits = int.from_bytes(buf, "little")
    if not bits:
        return None
    # manifest forms, all readable: bare hex (r5: m=2048, k=4),
    # {m, bits} (r6: adaptive m, k=4), {m, k, bits} (current)
    return {"m": m, "k": _BLOOM_K_V2, "bits": f"{bits:x}"}


def _column_list(properties: dict, key: str) -> list[str]:
    spec = properties.get(key)
    return [c.strip() for c in spec.split(",") if c.strip()] if spec else []


def file_entry(tpath: str, relpath: str, properties: dict, partitioned: bool) -> dict:
    """The manifest entry of a data file new to a snapshot: footer stats
    (``_file_column_stats``), the partition record when the table is
    partitioned, and for the STRING or INTEGER columns the table declares:

    - ``write.value-set-columns``: the file's distinct values, when at
      most ``_VALUE_SET_CAP``. Lexicographic [min,max] ranges over codes
      like src1/src10/src2 span nearly the whole domain, and
      hash-scattered integer ids span it numerically — equality
      predicates can't prune on bounds; the exact value set can. Integer
      sets store native JSON ints; the probe side compares in the int
      domain.
    - ``write.bloom-columns``: a bloom filter (``_bloom_of``) — equality
      pruning on HIGH-cardinality columns where bounds and value sets
      give up (Iceberg/Parquet's write.parquet.bloom-filter-enabled role).
      Absence of a value's bits PROVES the file holds no matching row.

    Both read the declared columns of this one file with a single
    column-pruned read — what a writer task would report alongside its
    footer stats on a cluster; O(file's distinct values), never a data
    scan of the table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    abspath = os.path.join(tpath, relpath)
    entry = _file_column_stats(abspath)
    if partitioned:
        entry["partition"] = _partition_values_from_path(relpath)
    vcols = _column_list(properties, "write.value-set-columns")
    bcols = _column_list(properties, "write.bloom-columns")
    if not (vcols or bcols):
        return entry
    sch = pq.read_schema(abspath)
    ok = {
        c for c in vcols + bcols
        if c in sch.names
        and (pat.is_string(sch.field(c).type)
             or pat.is_large_string(sch.field(c).type)
             or pat.is_integer(sch.field(c).type))
    }
    if not ok:
        return entry
    tbl = pq.read_table(abspath, columns=[c for c in dict.fromkeys(vcols + bcols) if c in ok])
    distinct = {
        c: pc.unique(tbl.column(c).combine_chunks()).drop_null().to_pylist()
        for c in tbl.column_names
    }
    value_sets = {
        c: sorted(distinct[c])
        for c in vcols
        if c in ok and 0 < len(distinct[c]) <= _VALUE_SET_CAP
    }
    if value_sets:
        entry["value_sets"] = value_sets
    blooms = {c: b for c in bcols if c in ok and (b := _bloom_of(distinct[c]))}
    if blooms:
        entry["blooms"] = blooms
    return entry


# ---------- the snapshot record and its delete accounting ----------


def _eq_delete_buckets(meta: dict, files) -> set[int]:
    """Buckets where the equality delete ``meta`` still hides rows: those
    it recorded hides for that hold a file written before the delete's
    sequence (a bucket rewrite materializes the delete there, making it
    inert)."""
    seq, hides = meta.get("seq", -1), meta.get("hides", {})
    out = set()
    for f in files:
        if _file_seq(f) < seq:
            b = _bucket_of_path(f)
            if str(b) in hides:
                out.add(b)
    return out


def _delete_applies(meta: dict, present: set) -> bool:
    """Whether the delete file ``meta`` describes still hides rows of the
    ``present`` data files: a position delete while a file it references
    is present, an equality delete while ``_eq_delete_buckets`` is
    non-empty."""
    if meta.get("kind") == "equality":
        return bool(_eq_delete_buckets(meta, present))
    return any(f in present for f in meta.get("files") or {})


@dataclass
class Snapshot:
    snapshot_id: int
    committed_at_ms: int
    operation: str  # append | merge | overwrite | tier
    files: list[str]  # table-relative data file paths
    total_rows: int
    added_rows: int
    hot_watermark: int  # highest hot batch id tiered into this snapshot
    summary: dict
    # per-file {"rows", "bytes", "stats": {col: [min, max]}} — the
    # manifest-entry record backing file skipping and the $files table
    file_meta: dict = field(default_factory=dict)
    # schema at commit time (StructType.jsonValue) + {name: field_id} —
    # what makes time travel read each snapshot under ITS schema after
    # later RENAME/DROP COLUMN evolution (Iceberg's schema-id role).
    # None on legacy snapshots → reads fall back to the current schema.
    schema_json: dict | None = None
    field_ids: dict | None = None
    # merge-on-read position deletes (the Iceberg v2 delete-file role):
    # table-relative paths of parquet files holding (__file, __pos)
    # tombstones, plus per-delete-file metadata
    # {"rows": n, "files": {data_relpath: n_positions}} so live-row
    # accounting and pruning stay metadata-only. Entries referencing a
    # data file absent from ``files`` are inert (the file was rewritten
    # or dropped), which is what lets delete files carry forward
    # unchanged across copy-on-write commits.
    delete_files: list = field(default_factory=list)
    delete_meta: dict = field(default_factory=dict)
    # id of the snapshot this one chained from (-1 = first commit on an
    # empty table, None = legacy snapshot written before lineage existed).
    # What makes fast_forward's ancestry check possible (Iceberg's
    # parent-snapshot-id role).
    parent_id: int | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        d.setdefault("file_meta", {})
        d.setdefault("schema_json", None)
        d.setdefault("field_ids", None)
        d.setdefault("delete_files", [])
        d.setdefault("delete_meta", {})
        d.setdefault("parent_id", None)
        return Snapshot(**d)

    def _present(self, files) -> set:
        return set(self.files if files is None else files)

    def active_deletes(self, files=None) -> list[tuple[str, dict]]:
        """(delete file, its metadata) for every delete file that still
        hides rows of this snapshot's files, or of the given files."""
        present = self._present(files)
        return [
            (d, meta)
            for d in self.delete_files
            for meta in [self.delete_meta.get(d) or {}]
            if _delete_applies(meta, present)
        ]

    def position_tombstones(self, files=None) -> dict[str, int]:
        """Data file → rows its position deletes hide, over this
        snapshot's files or the given ones — metadata-only."""
        present = self._present(files)
        out: dict[str, int] = {}
        for d in self.delete_files:
            meta = self.delete_meta.get(d) or {}
            if meta.get("kind") == "equality":
                continue
            for f, n in (meta.get("files") or {}).items():
                if f in present:
                    out[f] = out.get(f, 0) + int(n)
        return out

    def active_delete_count(self, files: list[str] | None = None) -> int:
        """Number of tombstoned rows hidden by delete files still active
        against files present in this snapshot (or the given list) —
        metadata-only. Position deletes count per referenced file;
        equality deletes count their per-bucket exact hide counts while
        that bucket still holds any file older than the delete's
        sequence (a bucket rewrite materializes them, making the entry
        inert there)."""
        present = self._present(files)
        total = sum(self.position_tombstones(present).values())
        for d in self.delete_files:
            meta = self.delete_meta.get(d) or {}
            if meta.get("kind") == "equality":
                total += sum(
                    meta["hides"][str(b)]
                    for b in _eq_delete_buckets(meta, present)
                )
        return total


# ---------- file skipping ----------


@functools.lru_cache(maxsize=64)
def _bloom_hex_cached(bloom_hex: str) -> bytes:
    """Parse a manifest bloom bitmap once per distinct filter, as
    little-endian bytes. An IN-list probe calls ``_file_may_match`` once
    per (file × member); re-parsing a 2^20-bit filter's ~262K-char hex
    per member is O(keys × m) driver time where O(keys + m) is
    available — and even on a parsed big int, ``(bits >> p) & 1`` copies
    O(p) words per test, so membership reads index bytes instead.
    CPython memoizes str hashes, so cache hits cost O(1) after a
    string's first lookup. maxsize bounds driver memory, not hit rate:
    an adaptive 2^20-bit filter pins ~131KB of parsed bytes plus its
    ~262KB hex key per entry, so 64 entries cap the cache at ~25MB
    (1024 would allow ~400MB); a probe touches one bloom per
    (file, column), so 64 covers any realistic per-query working set."""
    v = int(bloom_hex, 16)
    return v.to_bytes((v.bit_length() + 7) // 8, "little")


def _file_may_match(meta: dict | None, col: str, op: str, lit) -> bool:
    """Conservative file-skip test: False only when the footer min/max
    range PROVES no row can satisfy ``col op lit``. Files with no stats
    for the column (all-null, unsupported type, pre-stats snapshot) are
    kept. NULL rows never satisfy a comparison predicate, so ignoring
    them (as parquet stats do) is sound. ``op == "in"`` (iterable
    literal) keeps the file iff ANY member may match — the IN-list
    pushdown an LSH bucket-state probe needs."""
    if op == "in":
        return any(_file_may_match(meta, col, "=", v) for v in lit)
    vset = (meta or {}).get("value_sets", {}).get(col)
    if (
        vset is not None
        and op == "="
        and isinstance(lit, (str, int))
        and not isinstance(lit, bool)
    ):
        # exact membership beats range bounds; compare in the set's own
        # domain (JSON round-trips str and int losslessly, never mixes)
        if lit in vset:
            return True
        # a miss is definitive only when the literal lives in the set's
        # domain: Spark's row filter cast-coerces a type-mismatched
        # literal ('5' vs an int column) and can still match rows the
        # typed membership test rejects — fall through to bounds/bloom
        # (keep-conservative) then. One element decides: a set built
        # from a single parquet column is type-homogeneous. An empty
        # set (all-null file) stays definitive — NULL never compares.
        if not vset or type(next(iter(vset))) is type(lit):
            return False
    bloom = (meta or {}).get("blooms", {}).get(col)
    if bloom is not None and op == "=":
        if isinstance(bloom, dict):  # adaptive-size form
            # k absent = r6 vintage (k=4); present = current (k=20)
            m, k, bloom_hex = (
                int(bloom["m"]), int(bloom.get("k", _BLOOM_K)), bloom["bits"]
            )
        else:  # legacy bare-hex form
            m, k, bloom_hex = _BLOOM_BITS, _BLOOM_K, bloom
        pos = _bloom_positions(lit, m=m, k=k)
        if pos is not None:
            buf = _bloom_hex_cached(bloom_hex)
            if not all(
                p >> 3 < len(buf) and buf[p >> 3] & (1 << (p & 7))
                for p in pos
            ):
                return False  # definitive: value not in this file
            # bloom says "maybe" — bounds below may still prune
    stats = (meta or {}).get("stats", {}).get(col)
    if not stats:
        return True
    lo, hi = _stat_decode(stats[0]), _stat_decode(stats[1])
    v = _stat_canon(lit)
    try:
        if _bounds_may_match(lo, hi, v, op):
            return True
    except TypeError:
        return True  # incomparable literal/stat types — never prune
    # Mixed numeric representations (float literal vs decimal bounds or
    # vice versa): Python compares them EXACTLY, but the engines compare
    # after casting decimal→double. Re-check in the double domain so
    # boundary values stay conservative under BOTH semantics.
    numeric = (int, float, decimal.Decimal)
    if isinstance(v, numeric) and isinstance(lo, numeric):
        try:
            return _bounds_may_match(float(lo), float(hi), float(v), op)
        except (TypeError, OverflowError):
            return True
    return False


def _bounds_may_match(lo, hi, v, op: str) -> bool:
    if op == "=":
        return bool(lo <= v <= hi)
    if op == "<":
        return bool(lo < v)
    if op == "<=":
        return bool(lo <= v)
    if op == ">":
        return bool(hi > v)
    if op == ">=":
        return bool(hi >= v)
    raise ValueError(f"unsupported scan predicate op: {op!r}")


def _partition_canon(p: dict, lit):
    """Map a predicate literal into the same domain the writer's
    partition expression produces, so file partition values compare
    correctly against it. Returns None when the literal can't be mapped
    (→ no pruning)."""
    t = p["transform"]
    if t == "identity":
        # date partition dirs are written as ISO strings
        if isinstance(lit, datetime.date) and not isinstance(lit, datetime.datetime):
            return lit.isoformat()
        return lit
    if isinstance(lit, str):
        try:
            lit = datetime.datetime.fromisoformat(lit)
        except ValueError:
            return None
    if isinstance(lit, datetime.datetime):
        dt = lit
    elif isinstance(lit, datetime.date):
        dt = datetime.datetime(lit.year, lit.month, lit.day)
    else:
        return None
    if t == "years":
        return dt.year
    if t == "months":
        return f"{dt.year:04d}-{dt.month:02d}"
    if t == "days":
        return dt.date().isoformat()
    return f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}-{dt.hour:02d}"  # hours


def _partition_may_match(pvals: dict | None, spec: list[dict], col: str, op: str, lit) -> bool:
    """Conservative partition pruning: False only when the file's
    recorded partition value PROVES no row satisfies ``col op lit``.
    Sound because every transform is monotonic: x < lit ⟹
    t(x) <= t(lit), x > lit ⟹ t(x) >= t(lit), x = lit ⟹ t(x) = t(lit)."""
    if not pvals:
        return True
    if op == "in":
        return any(_partition_may_match(pvals, spec, col, "=", v) for v in lit)
    for p in spec:
        if p["col"] != col or p["name"] not in pvals:
            continue
        pv = pvals[p["name"]]
        if pv is None:  # null partition: comparison predicates never match
            return False
        tl = _partition_canon(p, lit)
        if tl is None or type(pv) is not type(tl):
            continue  # un-mappable literal — leave pruning to footer stats
        if op == "=" and pv != tl:
            return False
        if op in ("<", "<=") and pv > tl:
            return False
        if op in (">", ">=") and pv < tl:
            return False
    return True
