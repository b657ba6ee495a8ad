"""Remote tile scan (S12) — the reference's HTTP fetch path
(``/root/reference/gdal-drivers/mvt.cpp:699-730``: fetch over
http/https with status handling, parse from buffer; remote-URL
recognition ``mvt.cpp:654-672``) re-expressed as a distributed batched
fetcher.

Spark-first shape: requests are rows; the fetch runs inside
``_groups.run_batches`` so one Python worker handles a whole Arrow batch with
a single transport instance (connection reuse), and the work
parallelizes across partitions — the 10^12-scale ingestion pattern
where each executor drains its own shard of the URL list. Retry with
exponential backoff on transient statuses (5xx / 429), terminal
statuses recorded per row instead of failing the job (the reference
raises per request, ``mvt.cpp:712-721``; set-at-a-time the analogue is
a status column — a poison URL must not kill a million-row stage).

The transport is pluggable: ``transport(url, attempt) -> (status,
bytes)``. The default is stdlib ``urllib`` (import-gated; this sandbox
has no network, so tests and the oracle query inject deterministic
fakes). Gzip payloads are sniffed and inflated exactly like the
MBTiles path (``detail/mbtiles.cpp:214-224``).

Scale notes: per-partition sequential fetch with bounded retries keeps
politeness per shard (no thundering herd); global politeness = cap the
number of partitions pointed at one host (`repartition` upstream).
Backoff sleeps are deterministic (no jitter RNG) for replayability.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..operators._groups import run_batches

Transport = Callable[[str, int], tuple[int, bytes]]

URL_RE = re.compile(r"^(https?|ftp)://.+/(\d+)-(\d+)-(\d+)(\.\w+)?$")

FETCH_SCHEMA = (
    "url string, zoom int, x long, y long, status int, n_attempts int, "
    "tile_data binary"
)

_TRANSIENT = frozenset({429, 500, 502, 503, 504, 599})


def default_transport(url: str, attempt: int) -> tuple[int, bytes]:
    """stdlib GET for every scheme the reference accepts — http, https
    AND ftp (``mvt.cpp:654-672`` admits all three; the fetch path
    ``mvt.cpp:699-730`` hands any of them to the same curl-style
    fetcher). urllib handles ftp natively, but its FTP response object
    carries no ``status`` — data coming back IS success (failures
    raise ``URLError``), so a missing status maps to 200 rather than
    crashing the row into the 599 pseudo-status."""
    from urllib import error, request

    try:
        with request.urlopen(url, timeout=30) as resp:  # noqa: S310
            return int(getattr(resp, "status", None) or 200), resp.read()
    except error.HTTPError as exc:  # status-coded failure
        return int(exc.code), b""
    except (error.URLError, OSError, TimeoutError):
        # DNS failure / refused / socket timeout → pseudo-status 599
        # (transient: retried with backoff, then kept as a failed row);
        # the poison row must never kill the stage (ADVICE r01)
        return 599, b""


def fetch_remote_tiles(
    requests: DataFrame,
    transport: Transport | None = None,
    max_attempts: int = 3,
    backoff_s: float = 0.05,
) -> DataFrame:
    """requests(url) → (url, zoom, x, y, status, n_attempts, tile_data).

    URL grammar per the reference: remote MVT = scheme + path ending in
    ``z-x-y[.ext]`` (``mvt.cpp:654-672``); non-matching URLs are
    dropped (the identify step refusing the dataset). 200 → decoded
    payload (gunzip if gzip magic); transient statuses retried up to
    ``max_attempts`` with exponential backoff; terminal/ exhausted →
    row kept with empty payload and the final status.
    """
    tp = transport if transport is not None else default_transport

    def _fetch(g):
        from ..core.codecs import gunzip_sniff

        for url in map(str, g["url"]):
            m = URL_RE.match(url)
            if not m:
                continue
            z, x, y = int(m.group(2)), int(m.group(3)), int(m.group(4))
            if x > (1 << z) - 1 or y > (1 << z) - 1:
                continue  # bounds rule, mbtiles.cpp:146-152
            status, payload, attempt = -1, b"", 0
            while attempt < max_attempts:
                try:
                    status, payload = tp(url, attempt)
                except Exception:
                    # a transport that leaks (custom transports may
                    # not guard like default_transport) still only
                    # poisons its own row (ADVICE r01)
                    status, payload = 599, b""
                attempt += 1
                if status not in _TRANSIENT:
                    break
                if attempt < max_attempts:
                    time.sleep(backoff_s * (2 ** (attempt - 1)))
            if status != 200:
                payload = b""
            else:
                decoded = gunzip_sniff(payload)
                # corrupt gzip body: sentinel status, empty payload —
                # row survives, stage survives
                status, payload = (-2, b"") if decoded is None else (status, decoded)
            yield url, z, x, y, status, attempt, payload

    return run_batches(requests, ["url"], _fetch, FETCH_SCHEMA)
