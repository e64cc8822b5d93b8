"""Generator determinism and planted-input accounting."""

import hashlib
from pathlib import Path

import pyarrow.parquet as pq

import gen
from http_log_anonymizer_spark.sources.capnp_codec import FIELDS, decode_http_log_record


def _digests(d: Path) -> list[str]:
    return [hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())]


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.write_payload_files(str(tmp_path / "a"), 5, 3, 400, "/d")
    b = gen.write_payload_files(str(tmp_path / "b"), 5, 3, 400, "/d")
    c = gen.write_payload_files(str(tmp_path / "c"), 6, 3, 400, "/d")
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    assert a["valid"] == b["valid"] and a["counts"] == b["counts"]
    assert c["valid"] != a["valid"]


def test_tables_are_byte_identical_per_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_tables(str(tmp_path / "b"), 3, 0.001)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")


def test_manifest_matches_what_the_codec_decodes(tmp_path):
    man = gen.write_payload_files(str(tmp_path), 11, 4, 500, "/d")
    decoded, rejected = [], 0
    for path in man["paths"]:
        for p in pq.read_table(path).column("value").to_pylist():
            rec = decode_http_log_record(p)
            if rec is None:
                rejected += 1
            else:
                decoded.append(tuple(rec[f] for f in FIELDS))
    assert decoded == man["valid"]
    assert rejected == man["counts"]["malformed"] > 0
    c = man["counts"]
    assert c["ipv4"] + c["ipv6"] + c["nonip"] + c["dup"] + c["malformed"] == man["rows"] == 2000
    assert min(c["ipv6"], c["nonip"], c["dup"], c["multiseg"]) > 0


def test_every_malformed_kind_is_rejected():
    rec = dict(zip(FIELDS, (1_700_000_000_000, 7, 100, 20, 200, "HIT", "GET", "1.2.3.4", "/x")))
    valid = gen.encode_http_log_record(**rec)
    for kind in gen._MALFORMED_KINDS:
        assert decode_http_log_record(gen.malformed_payload(kind, valid)) is None, kind


def test_multisegment_encoding_round_trips():
    rec = dict(zip(FIELDS, (1_700_000_000_123, 9, 5, 3, 404, "MISS", "POST", "2001:db8::1", "/a/b")))
    payload = gen.encode_multisegment(rec)
    assert int.from_bytes(payload[:4], "little") == 3  # four segments
    assert decode_http_log_record(payload) == rec


def test_expected_rows_dedup_and_anonymize():
    addr = FIELDS.index("remote_addr")
    row = (1, 2, 3, 4, 200, "HIT", "GET", "10.1.2.3", "/u")
    v6 = row[:addr] + ("2001:0db8:0000:0000:0000:0000:0000:0001",) + row[addr + 1:]
    out = gen.expected_sink_rows([row, row, v6])
    assert [r[addr] for r in out] == ["10.1.2.x", "2001:db8::1:xxxx"]
    assert gen.python_path_rows([row, row, v6]) == 1
