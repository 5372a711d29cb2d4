"""Driver-side ingest utilities (SURVEY.md §2.1 S1–S4, S10; §2.8
F10–F11; §2.6 K4, K6).

Discovery/download/fetch are inherently driver-side (network +
landing-zone filesystem), so these are plain functions, not Spark
jobs — the reference's equivalents are src/data_load_sqlite.py:23–97
and src/fetch_nextbike.py:35–83. Differences from the reference are
deliberate:

- stdlib only (urllib + html.parser) — no requests/bs4 dependency;
- every network call goes through an injectable ``fetch`` callable so
  tests (and air-gapped runs) never touch the network.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
from html.parser import HTMLParser
from typing import Callable
from urllib.parse import urljoin, urlparse
from urllib.request import Request, urlopen

# F10: the reference's filename-datetime regex, verbatim semantics
# (reference: src/data_load_sqlite.py:47–58) — date part mandatory,
# time part optional.
FILENAME_DT_RE = r"(\d{4})-(\d{1,2})-(\d{1,2})(?:_(\d{1,2})_(\d{1,2})_(\d{1,2}))?"

USER_AGENT = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
    " (KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36"
)

RETRY_STATUSES = {429, 500, 502, 503, 504}


def extract_dt_from_filename(name: str) -> dt.datetime | None:
    """S3/F10: parse the embedded datetime; None when absent/invalid
    (reference: src/data_load_sqlite.py:47–58)."""
    m = re.search(FILENAME_DT_RE, name)
    if not m:
        return None
    y, mo, d, hh, mm, ss = m.groups()
    try:
        if hh is not None:
            return dt.datetime(int(y), int(mo), int(d), int(hh), int(mm), int(ss))
        return dt.datetime(int(y), int(mo), int(d))
    except ValueError:
        return None


def pick_latest_csv(csv_urls: list[str]) -> tuple[str | None, str | None]:
    """S2/K4: (url, filename) with the max embedded datetime; URLs
    without a parsable datetime are ignored (reference :71–82)."""
    dated = []
    for u in csv_urls:
        fn = os.path.basename(urlparse(u).path)
        d = extract_dt_from_filename(fn)
        if d is not None:
            dated.append((d, u, fn))
    if not dated:
        return None, None
    d, url, fn = max(dated, key=lambda x: x[0])
    return url, fn


class _HeadingAnchorParser(HTMLParser):
    """Collect hrefs of ``<a class="heading">`` anchors — the portal's
    file-listing markup the reference scrapes with bs4 (reference
    :61–68); html.parser keeps us stdlib-only."""

    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag != "a":
            return
        a = dict(attrs)
        classes = (a.get("class") or "").split()
        if "heading" in classes and a.get("href"):
            self.hrefs.append(a["href"])


def default_fetch(url: str, timeout: int = 30) -> bytes:
    """GET with the reference's UA header; used when no fetch callable
    is injected."""
    req = Request(url, headers={"User-Agent": USER_AGENT})
    with urlopen(req, timeout=timeout) as resp:
        return resp.read()


def fetch_with_retry(
    url: str,
    fetch: Callable[[str], bytes] = default_fetch,
    max_tries: int = 5,
    backoff_factor: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> bytes:
    """S4's retry policy: up to 5 tries with exponential backoff on
    retryable HTTP statuses / transient errors (reference :23–39 uses
    urllib3 Retry; same shape, stdlib)."""
    last: Exception | None = None
    for attempt in range(max_tries):
        try:
            return fetch(url)
        except Exception as e:  # noqa: BLE001 - retry boundary
            status = getattr(e, "code", None)
            if status is not None and status not in RETRY_STATUSES:
                raise
            last = e
            if attempt < max_tries - 1:
                sleep(backoff_factor * (2**attempt))
    raise last  # type: ignore[misc]


def get_all_csv_urls(
    page_url: str, fetch: Callable[[str], bytes] = default_fetch
) -> list[str]:
    """S1: scrape the portal listing page for .csv links
    (reference :61–68)."""
    html = fetch_with_retry(page_url, fetch).decode("utf-8", errors="replace")
    parser = _HeadingAnchorParser()
    parser.feed(html)
    urls = [urljoin(page_url, h) for h in parser.hrefs]
    return [u for u in urls if u.lower().endswith(".csv")]


def download_file(
    url: str, out_dir: str, fetch: Callable[[str], bytes] = default_fetch
) -> str:
    """S4: download to the landing dir; skip when a non-empty file
    already exists (idempotency, reference :85–97)."""
    os.makedirs(out_dir, exist_ok=True)
    filename = os.path.basename(urlparse(url).path)
    path = os.path.join(out_dir, filename)
    if os.path.exists(path) and os.path.getsize(path) > 0:
        return path
    payload = fetch_with_retry(url, fetch)
    with open(path, "wb") as f:
        f.write(payload)
    return path


# --- S10 / F11: Nextbike snapshot fetch --------------------------------------

WARSAW_TZ = "Europe/Warsaw"


def _zone():
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(WARSAW_TZ)
    except Exception:  # pragma: no cover - zoneinfo is stdlib on 3.9+
        return dt.timezone.utc


def now_local_iso(now: dt.datetime | None = None) -> str:
    """F11: tz-aware ISO timestamp, seconds precision, Europe/Warsaw
    (reference: src/fetch_nextbike.py:29–33)."""
    moment = now.astimezone(_zone()) if now else dt.datetime.now(tz=_zone())
    return moment.isoformat(timespec="seconds")


def fetch_snapshot(
    api_url: str,
    out_dir: str,
    fetch: Callable[[str], bytes] = default_fetch,
    now: dt.datetime | None = None,
) -> str:
    """S10: fetch one Nextbike snapshot, inject the ``_fetched_at``
    watermark, write pretty JSON named ``bike_rides_<local ts>.json``
    (reference: src/fetch_nextbike.py:51–83)."""
    payload = json.loads(fetch_with_retry(api_url, fetch).decode("utf-8"))
    ts_iso = now_local_iso(now)
    if isinstance(payload, dict):
        payload["_fetched_at"] = ts_iso
    else:
        payload = {"_fetched_at": ts_iso, "data": payload}
    moment = now.astimezone(_zone()) if now else dt.datetime.now(tz=_zone())
    fname = f"bike_rides_{moment.strftime('%Y-%m-%d_%H_%M_%S')}.json"
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, fname)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False, indent=2)
    return path
