"""Seeded input generator: the only source of the benchmark's inputs.

Ingest inputs are parquet files with one ``value: binary`` column of Cap'n
Proto ``HttpLogRecord`` payloads. Every file has the same row count and a
planted, recorded mix of:

- remote_addr classes: IPv4, IPv6 (full and compressed spellings) and
  non-IP strings (leading-zero octets, out-of-range octets, host names);
- malformed payloads (truncated, oversized segment table, too short,
  out-of-bounds text pointer, root pointer of the wrong kind) that a
  correct decoder must reject;
- sort-key duplicates: exact copies of an earlier row of the same file, so
  the per-batch dedup of ``ParquetSink(dedup=True)`` collapses them;
- multi-segment messages reached through far and double-far pointers
  (public wire format), so a single-segment fast path would have to keep
  its fallback.

Every row has a distinct timestamp, so only planted duplicates share a
sort key. The registry tables mirror the schemas of the engine's
TPC-H-style star schema plus ``events``, ``documents`` and ``embeddings``.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import re
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from http_log_anonymizer_spark.functions.anonymize import IPV4_REGEX, anonymize_ip_py
from http_log_anonymizer_spark.sources.capnp_codec import FIELDS, encode_http_log_record

# Planted shares; perfbench/README.md gives the origin of each.
# ipv6: Google's public IPv6 statistics put the share of users reaching it
#   over IPv6 at about 45% through 2024; every such row takes the
#   anonymizer's Python UDF path.
# nonip, malformed, dup, multiseg: assumptions (no public measurement).
#   A peer address only reads as non-IP when a proxy logs a placeholder;
#   the reference producer emits no malformed payloads and single-segment
#   messages only (a record fits Cap'n Proto's default 1024-word first
#   segment). Malformed and multi-segment payloads are planted so the
#   reject check and a future single-segment fast path's fallback have
#   work; duplicates stand for at-least-once redelivery after a restart.
SHARES = {"ipv6": 0.45, "nonip": 0.01, "malformed": 0.01, "dup": 0.03, "multiseg": 0.05}
BASE_MS = 1_700_000_000_000  # 2023-11-14; all rows stay inside one month
_STEP_MS = 3
_U32 = struct.Struct("<I")
_U64 = struct.Struct("<Q")
_IPV4 = re.compile(IPV4_REGEX)
_NONIP = ("a.b.c.d", "unknown", "-", "", "1.2.3", "01.2.3.4", "256.1.2.3", "1.2.3.4.5", "::g")
_MALFORMED_KINDS = ("truncated", "segment_count", "short", "text_bounds", "root_kind")
_STATUSES = (200, 200, 200, 200, 301, 304, 404, 500)
_CACHE = ("HIT", "MISS", "EXPIRED", "STALE", "BYPASS")
_METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD")


# -- Cap'n Proto framing helpers (https://capnproto.org/encoding.html) -------


def _far(seg: int, off: int, double: bool = False) -> int:
    return 2 | (int(double) << 2) | (off << 3) | (seg << 32)


def _text_list(off: int, n_bytes: int) -> int:
    return 1 | (off << 2) | (2 << 32) | (n_bytes << 35)


def _text_blob(t: bytes) -> bytes:
    b = t + b"\x00"
    return b + b"\x00" * (-len(b) % 8)


def _frame(segs: list[bytes]) -> bytes:
    head = _U32.pack(len(segs) - 1) + b"".join(_U32.pack(len(s) // 8) for s in segs)
    return head + b"\x00" * (-len(head) % 8) + b"".join(segs)


def encode_multisegment(rec: dict) -> bytes:
    """Four-segment encoding of one record: segment 0 holds only a far
    pointer to the root struct in segment 1; remoteAddr is reached through
    a one-word landing pad and url through a double-far pad, both in
    segment 2, with url's bytes in segment 3."""
    seg1 = bytearray(encode_http_log_record(**rec)[8:])
    addr, url = rec["remote_addr"].encode(), rec["url"].encode()
    seg2 = (
        _U64.pack(_far(3, 0))
        + _U64.pack(_text_list(0, len(url) + 1))
        + _U64.pack(_text_list(0, len(addr) + 1))
        + _text_blob(addr)
    )
    # pointer section of the root struct starts at word 6 (root ptr + 5 data words)
    _U64.pack_into(seg1, 8 * 8, _far(2, 2))
    _U64.pack_into(seg1, 9 * 8, _far(2, 0, double=True))
    return _frame([_U64.pack(_far(1, 0)), bytes(seg1), seg2, _text_blob(url)])


def malformed_payload(kind: str, valid: bytes) -> bytes:
    """A payload every conforming decoder must reject."""
    if kind == "truncated":  # segment table promises more words than follow
        return valid[:-8]
    if kind == "segment_count":  # 1000 segments, no table to back them
        return _U32.pack(999) + valid[4:]
    if kind == "short":  # shorter than any segment table
        return valid[:4]
    seg = bytearray(valid[8:])
    if kind == "text_bounds":  # url list runs past the end of the segment
        _U64.pack_into(seg, 9 * 8, _text_list(0, 1 << 20))
    elif kind == "root_kind":  # root pointer is a list pointer, not a struct
        _U64.pack_into(seg, 0, _text_list(0, 8))
    else:
        raise ValueError(kind)
    return valid[:8] + bytes(seg)


# -- row generation ----------------------------------------------------------


def _addr(rng: np.random.Generator, kind: str) -> str:
    if kind == "ipv4":
        return ".".join(str(int(x)) for x in rng.integers(0, 256, 4))
    if kind == "ipv6":
        groups = [int(x) for x in rng.integers(0, 0x10000, 8)]
        if rng.random() < 0.5:  # a zero run, so the compressed form has '::'
            i = int(rng.integers(0, 6))
            groups[i : i + 2] = [0, 0]
        if rng.random() < 0.5:
            return ":".join(f"{g:04x}" for g in groups)
        return ":".join(f"{g:x}" for g in groups)
    if rng.random() < 0.5:
        return _NONIP[int(rng.integers(0, len(_NONIP)))]
    return f"host-{int(rng.integers(0, 10**6))}.example"


def _record(rng: np.random.Generator, seq: int, rows: int, j: int, kind: str, url_prefix: str) -> dict:
    return {
        "timestamp_epoch_milli": BASE_MS + (seq * rows + j) * _STEP_MS,
        "resource_id": int(rng.integers(1, 5000)),
        "bytes_sent": int(rng.integers(0, 2_000_000)),
        "request_time_milli": int(rng.integers(0, 3000)),
        "response_status": _STATUSES[int(rng.integers(0, len(_STATUSES)))],
        "cache_status": _CACHE[int(rng.integers(0, len(_CACHE)))],
        "method": _METHODS[int(rng.integers(0, len(_METHODS)))],
        "remote_addr": _addr(rng, kind),
        "url": f"{url_prefix}/f{seq:06d}/r{j:05d}/item/{int(rng.integers(0, 10**5))}",
    }


def make_file(seed: int, seq: int, rows: int, url_prefix: str) -> tuple[list[bytes], dict]:
    """Payloads of file ``seq`` and its manifest: the valid rows (as the
    decoder should emit them, duplicates included) and planted counts.
    Each payload is exactly one of: malformed, duplicate, or a fresh row
    of one address class; multi-segment framing is drawn independently
    for valid payloads."""
    rng = np.random.default_rng([seed, seq])
    payloads: list[bytes] = []
    valid: list[tuple] = []
    counts = dict.fromkeys(("ipv4", "ipv6", "nonip", "malformed", "dup", "multiseg"), 0)
    recs: list[dict] = []
    ipv6_cut, nonip_cut = SHARES["ipv6"], SHARES["ipv6"] + SHARES["nonip"]
    for j in range(rows):
        u = rng.random(4)
        if u[0] < SHARES["malformed"]:
            kind = _MALFORMED_KINDS[int(rng.integers(0, len(_MALFORMED_KINDS)))]
            rec = _record(rng, seq, rows, j, "ipv4", url_prefix)
            payloads.append(malformed_payload(kind, encode_http_log_record(**rec)))
            counts["malformed"] += 1
            continue
        if recs and u[1] < SHARES["dup"]:
            rec = recs[int(rng.integers(0, len(recs)))]
            counts["dup"] += 1
        else:
            kind = "ipv6" if u[2] < ipv6_cut else "nonip" if u[2] < nonip_cut else "ipv4"
            rec = _record(rng, seq, rows, j, kind, url_prefix)
            recs.append(rec)
            counts[kind] += 1
        if u[3] < SHARES["multiseg"]:
            payloads.append(encode_multisegment(rec))
            counts["multiseg"] += 1
        else:
            payloads.append(encode_http_log_record(**rec))
        valid.append(tuple(rec[f] for f in FIELDS))
    return payloads, {"valid": valid, "counts": counts}


def write_payload_files(
    out_dir: str, seed: int, n_files: int, rows: int, url_prefix: str, first_seq: int = 0
) -> dict:
    """Write ``n_files`` equal-size payload files named ``f<seq>.parquet``.
    Returns the merged manifest: valid rows, planted counts and paths."""
    os.makedirs(out_dir, exist_ok=True)
    valid: list[tuple] = []
    counts: dict[str, int] = {}
    paths = []
    for seq in range(first_seq, first_seq + n_files):
        payloads, man = make_file(seed, seq, rows, url_prefix)
        path = os.path.join(out_dir, f"f{seq:06d}.parquet")
        pq.write_table(pa.table({"value": pa.array(payloads, pa.binary())}), path)
        paths.append(path)
        valid.extend(man["valid"])
        for k, v in man["counts"].items():
            counts[k] = counts.get(k, 0) + v
    return {"valid": valid, "counts": counts, "paths": paths, "rows": n_files * rows}


def expected_sink_rows(valid: list[tuple]) -> list[tuple]:
    """What a correct decode -> anonymize -> dedup pipeline stores: each
    distinct valid row once, remote_addr through the reference
    implementation ``anonymize_ip_py``."""
    addr = FIELDS.index("remote_addr")
    out = {r[:addr] + (anonymize_ip_py(r[addr]),) + r[addr + 1 :] for r in valid}
    return sorted(out)


def python_path_rows(valid: list[tuple]) -> int:
    """Rows the anonymizer routes to its Python UDF (not strict IPv4)."""
    addr = FIELDS.index("remote_addr")
    return sum(1 for r in valid if not _IPV4.match(r[addr]))


def shares(counts: dict, rows: int) -> dict:
    return {k: round(v / rows, 6) for k, v in sorted(counts.items())}


# -- registry tables ---------------------------------------------------------

_WORDS = (
    "a the data row key part join sort hash scan group value filter window stream batch "
    "spark query table column line order agg merge fast slow big small vector customer dup"
).split()


def _ts(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days * 86_400_000_000, n)
    return pa.array(us, pa.timestamp("us"))


def _day(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000, pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The registry's ten input tables at scale factor ``sf`` (sf=1 is
    6M lineitem rows). Returns row counts per table."""
    rng = np.random.default_rng([seed, 1 << 20])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), max(10, int(15_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), n)])  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pick([f"{a} {b}" for a in ("red", "blue", "hot", "new", "large", "small", "green", "old") for b in ("ring", "bolt", "rod", "plate", "anvil", "gear", "nut", "pipe")], n_part),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
            "o_orderdate": _day(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105_000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _day(rng, "1995-01-02", 2499, n_li),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.sort(_ts(rng, "2024-01-01", 30, n_ev).to_numpy()), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.round(rng.exponential(60, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    texts = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:  # planted near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(base + ["dup"]))
            continue
        n = int(rng.integers(8, 90))
        texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n)))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(["de", "en", "es", "fr", "zh"], n_doc),
        "source": pick([f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
