"""S1-S3: HTTP ingest with retry, TTL cache, and timestamped backups.

Reference parity (`etl/etl_main.py:61-119`): streaming GET with urllib3
retries (5 tries, 0.5 backoff on 429/5xx), 24 h cache reuse unless
forced, and a timestamped backup copy.

The structural difference from the reference: the download lands on
DISK (streamed in chunks) and Spark scans the file path — the raw text
is never concatenated into one in-memory string. At real scale this
driver-side single-stream fetch is the bootstrap path only; a 100 TB
corpus arrives via object-store copies or parallel ranged GETs.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

logger = logging.getLogger(__name__)

CACHE_TTL_HOURS = 24.0
CHUNK_BYTES = 1024 * 1024


def _default_fetcher(url: str, dest_path: str, timeout: float = 300.0) -> None:
    """Streaming GET → file, with retry/backoff. Import-gated: requests
    is present in the reference's runtime but optional here."""
    import requests  # noqa: PLC0415
    from requests.adapters import HTTPAdapter, Retry  # noqa: PLC0415

    session = requests.Session()
    retries = Retry(
        total=5,
        backoff_factor=0.5,
        status_forcelist=[429, 500, 502, 503, 504],
        allowed_methods=["GET"],
    )
    adapter = HTTPAdapter(max_retries=retries)
    session.mount("https://", adapter)
    session.mount("http://", adapter)
    with session.get(url, timeout=timeout, stream=True) as r:
        r.raise_for_status()
        with open(dest_path, "wb") as f:
            for chunk in r.iter_content(chunk_size=CHUNK_BYTES):
                if chunk:
                    f.write(chunk)


def download_to_landing(
    url: str,
    cache_file: str,
    force: bool = False,
    backup_dir: str | None = None,
    ttl_hours: float = CACHE_TTL_HOURS,
    fetcher=None,
) -> str:
    """Fetch ``url`` into ``cache_file`` unless a fresh cached copy exists
    (mtime younger than ``ttl_hours``); optionally keep a timestamped
    backup. Returns the path for ``spark.read`` to scan.

    ``fetcher(url, dest)`` is injectable for tests/offline use. It writes
    a sibling temp file that replaces ``cache_file`` only once the fetcher
    returns: a failed fetch raises and leaves the previous cache, if any,
    as it was, so a half-written download is never served as fresh.
    """
    os.makedirs(os.path.dirname(cache_file) or ".", exist_ok=True)
    if os.path.exists(cache_file) and not force:
        age_h = (time.time() - os.path.getmtime(cache_file)) / 3600.0
        if age_h < ttl_hours:
            logger.info("using cached %s (age %.1fh)", cache_file, age_h)
            return cache_file
    tmp = f"{cache_file}.part{os.getpid()}"
    try:
        (fetcher or _default_fetcher)(url, tmp)
        os.replace(tmp, cache_file)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    logger.info("downloaded %s -> %s", url, cache_file)
    if backup_dir:
        os.makedirs(backup_dir, exist_ok=True)
        stamp = time.strftime("%Y%m%d_%H%M%S", time.gmtime())
        backup = os.path.join(backup_dir, f"landing-{stamp}{os.path.splitext(cache_file)[1]}")
        shutil.copyfile(cache_file, backup)
        logger.info("backup saved to %s", backup)
    return cache_file
