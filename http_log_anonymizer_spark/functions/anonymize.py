"""IP anonymization — the reference's core scalar operator (T4/T5).

Semantics (anonymizer/src/lib.rs:253-271):

- valid IPv4 ``a.b.c.d``      -> ``a.b.c.x``        (lib.rs:260-264)
- valid IPv6                  -> canonical (RFC 5952 compressed)
                                 string + ``:xxxx``  (lib.rs:265-269)
- anything else               -> unchanged           (lib.rs:254-257)

Golden vectors (lib.rs:278-284): ``1.2.3.4 -> 1.2.3.x``;
``2001:0db8:85a3:0000:0000:8a2e:0370:7334 -> 2001:db8:85a3::8a2e:370:7334:xxxx``;
``a.b.c.d -> a.b.c.d``.

Two implementations:

- ``anonymize_ip_fast``: pure Catalyst expression. Exact for IPv4 and
  non-IP pass-through; IPv6 inputs are passed through unchanged (no
  canonicalization). JVM-side, stays in whole-stage codegen — use when
  the column is known v4-or-garbage (the reference's producer emits only
  v4, docker/http-log-kafka-producer).
- ``anonymize_ip``: full-fidelity. Routes v4 through the Catalyst fast
  path and only non-v4 candidates through an Arrow-vectorized pandas
  UDF (Python ``ipaddress``, which matches Rust ``IpAddr`` parsing:
  leading-zero octets rejected, RFC 5952 compression on output).

At 100 TB: the pandas UDF sees the full row count but receives NULL for
every v4 row (the common case); the v4 path never leaves the JVM. The
UDF's stage still has a fixed cost per task (worker hand-off, Arrow
round trip, task set-up; see ``_daemon.py`` for the part that was
measured and removed), which small micro-batches pay in full whatever
their v4 share.
"""

from __future__ import annotations

import ipaddress

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Strict IPv4: four octets 0-255, no leading zeros (Rust's Ipv4Addr and
# Python's ipaddress both reject leading zeros).
_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
# End of input: `$` also matches before a final line terminator, which
# made "1.2.3.4\n" an IPv4. Not `\z`: IPV4_REGEX is also compiled by
# Python's re, which has no `\z` before 3.14.
_END = r"(?![\s\S])"
IPV4_REGEX = rf"^({_OCTET}\.){{3}}{_OCTET}{_END}"
# Replacement keeps the first three octets (group 1 spans them).
_IPV4_REPLACE_PATTERN = rf"^(({_OCTET}\.){{3}}){_OCTET}{_END}"


def anonymize_ip_py(value: str | None) -> str | None:
    """Plain-Python reference implementation (used by the UDF and tests)."""
    if value is None:
        return None
    try:
        ip = ipaddress.ip_address(value)
    except ValueError:
        return value
    if ip.version == 4:
        head, _, _ = value.rpartition(".")
        return f"{head}.x"
    return f"{ip.compressed}:xxxx"


@pandas_udf(StringType())
def _anonymize_udf(s: pd.Series) -> pd.Series:
    return s.map(anonymize_ip_py, na_action="ignore")


def anonymize_ip_fast(col: Column | str) -> Column:
    """Catalyst-only path: IPv4 last octet -> 'x'; everything else
    (including IPv6) passes through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _IPV4_REPLACE_PATTERN, "$1x")


def anonymize_ip(col: Column | str) -> Column:
    """Full-fidelity anonymization (v4 fast path + v6 canonicalization).

    The pandas UDF is fed NULL for rows already handled by the JVM fast
    path, so Python only does real work for the rare non-v4 rows.
    """
    c = F.col(col) if isinstance(col, str) else col
    is_v4 = c.rlike(IPV4_REGEX)
    slow = _anonymize_udf(F.when(is_v4, F.lit(None)).otherwise(c))
    return F.when(is_v4, anonymize_ip_fast(c)).otherwise(slow)
