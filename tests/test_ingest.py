"""S1-S3 ingest: TTL cache, force bust, backups — fetcher injected."""

from __future__ import annotations

import os
import time

import pytest

from uk_housing_dashboard_etl_spark.sources.ingest import download_to_landing


def make_fetcher(log):
    def fetch(url, dest):
        log.append(url)
        with open(dest, "w") as f:
            f.write(f"payload-{len(log)}")
    return fetch


def test_cache_reused_within_ttl(tmp_path):
    calls = []
    cache = str(tmp_path / "cache" / "pp.txt")
    p1 = download_to_landing("http://x/pp.txt", cache, fetcher=make_fetcher(calls))
    p2 = download_to_landing("http://x/pp.txt", cache, fetcher=make_fetcher(calls))
    assert p1 == p2 == cache
    assert len(calls) == 1  # second call served from cache
    assert open(cache).read() == "payload-1"


def test_force_and_stale_cache_redownload(tmp_path):
    calls = []
    fetch = make_fetcher(calls)
    cache = str(tmp_path / "pp.txt")
    download_to_landing("http://x/pp.txt", cache, fetcher=fetch)
    download_to_landing("http://x/pp.txt", cache, force=True, fetcher=fetch)
    assert len(calls) == 2
    # stale mtime → refetch
    os.utime(cache, (time.time() - 90000, time.time() - 90000))
    download_to_landing("http://x/pp.txt", cache, fetcher=fetch)
    assert len(calls) == 3


def test_backup_snapshot_written(tmp_path):
    calls = []
    cache = str(tmp_path / "pp.txt")
    bdir = str(tmp_path / "backups")
    download_to_landing(
        "http://x/pp.txt", cache, backup_dir=bdir, fetcher=make_fetcher(calls)
    )
    backups = os.listdir(bdir)
    assert len(backups) == 1 and backups[0].startswith("landing-")
    assert open(os.path.join(bdir, backups[0])).read() == "payload-1"


def test_failed_fetch_is_never_served_from_cache(tmp_path):
    calls = []

    def broken(url, dest):
        calls.append(url)
        with open(dest, "w") as f:
            f.write("half-a-fi")
        raise ConnectionError("connection reset mid-download")

    cache = str(tmp_path / "pp.txt")
    with pytest.raises(ConnectionError):
        download_to_landing("http://x/pp.txt", cache, fetcher=broken)
    # the next call within the TTL fetches again instead of serving the
    # partial file
    download_to_landing("http://x/pp.txt", cache, fetcher=make_fetcher(calls))
    assert len(calls) == 2
    assert open(cache).read() == "payload-2"

    # a broken forced refetch keeps the good cache, and leaves no backup
    # or temp file behind
    bdir = str(tmp_path / "backups")
    with pytest.raises(ConnectionError):
        download_to_landing(
            "http://x/pp.txt", cache, force=True, backup_dir=bdir, fetcher=broken
        )
    assert open(cache).read() == "payload-2"
    assert sorted(os.listdir(tmp_path)) == ["pp.txt"]
