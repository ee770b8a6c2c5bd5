"""HTTP polling fetcher — the spool producer for the streaming source.

The reference's hot loop fetches ``vehicleLocations&a=<agency>&r=<route>
&t=<last_ms>`` per route with ``requests.get`` and threads the returned
``lastTime`` into the next request (``/root/reference/route.py:151-169``,
``agency.py:14-17``). The engine split that concern in two: the DSv2
streaming source (``sources/feed_stream.py``) consumes a spool
directory of ``<route>__<time_ms>.xml`` documents with checkpointed
offsets, and THIS module is the daemon that fills the spool — the HTTP
seam the round-7 verdict listed as unimplemented.

Design (deliberately driver/daemon-side, NOT a Spark job):

- **stdlib only** (``urllib.request``): retries with exponential
  backoff, timeout, gzip transparently decoded. No third-party client.
- **Atomic spool writes** (``_spool_write``, shared by every fetcher
  here): payload → ``.tmp-`` file in the spool dir, then
  ``os.replace`` — the stream's listing can never observe a truncated
  document (its permissive-mode guard stays a last resort).
- **Incremental offsets, fetcher-side**: the per-route ``t`` parameter
  is the previous document's ``lastTime`` (monotone per the API
  contract), persisted in the spool FILENAMES themselves — a restarted
  fetcher re-derives every route's cursor from a directory listing, so
  the daemon is stateless and crash-safe. A re-fetch after a crash
  re-requests from the last durable document; downstream within-batch
  dedup (SURVEY §2 T4/K6) absorbs the overlap — at-least-once, the
  same stance as the reference's retry loop (SURVEY §3).
- **Injectable transport and clock** for hermetic tests (the sandbox
  has no network; tests drive a localhost ``http.server``).

Scale note: one fetcher daemon serves any cluster size — the feed API
is the bottleneck, not Spark. Documents land on shared storage; the
source's ``latestOffset`` lists names only.

This module also hosts the crawl seam's four ledgered fetchers —
:class:`CdxRangeFetcher` (HTTP ``Range`` reads of the WARC records a
CDX index selects, ``sources/cdx.py``), :class:`RobotsFetcher`,
:class:`SitemapFetcher` and :class:`PageFetcher`. They share one
spool contract and one fetch loop, :class:`_LedgeredSpool`, and each
supplies only its URL and its response-to-bytes step. All five
fetchers share :class:`HostThrottle` (round-13), the per-host
politeness budget (min request interval per host, optional robots
``Crawl-delay`` overrides via ``sources/robots.robots_crawl_delays``).
"""

from __future__ import annotations

import gzip
import os
import re
import time
import urllib.error
import urllib.parse
import urllib.request

from nextbus2pg_spark.sources.feed_stream import _scan_spool
from nextbus2pg_spark.sources.files import read_binary_files

#: The public NextBus-style feed endpoint shape (route.py:14-16).
DEFAULT_COMMAND = "vehicleLocations"


class _NoRedirectHandler(urllib.request.HTTPRedirectHandler):
    """Turn 3xx into the terminal response instead of chasing it —
    ``get_page`` records the redirect as data."""

    def redirect_request(self, req, fp, code, msg, headers, newurl):
        return None


class FeedHttpClient:
    """Minimal stdlib HTTP client: GET with timeout, bounded retries
    with exponential backoff, and transparent gzip. Raises the last
    error once retries are exhausted — the caller (daemon loop) decides
    whether to keep polling other routes."""

    def __init__(
        self,
        *,
        timeout_s: float = 10.0,
        retries: int = 3,
        backoff_s: float = 0.5,
        sleep=time.sleep,
    ) -> None:
        if retries < 1:
            raise ValueError(f"retries must be >= 1; got {retries}")
        self.timeout_s = timeout_s
        self.retries = retries
        self.backoff_s = backoff_s
        self._sleep = sleep

    def get(self, url: str) -> bytes:
        def _once() -> bytes:
            req = urllib.request.Request(
                url, headers={"Accept-Encoding": "gzip"}
            )
            with urllib.request.urlopen(
                req, timeout=self.timeout_s
            ) as resp:
                body = resp.read()
                if resp.headers.get("Content-Encoding") == "gzip":
                    body = gzip.decompress(body)
                return body

        return self._with_retries(_once)

    def get_range(self, url: str, offset: int, length: int) -> bytes:
        """GET ``length`` bytes at ``offset`` via an HTTP Range request
        (``Range: bytes=offset-(offset+length-1)``) — the CDX-manifest
        fetch primitive: a WARC record is read out of a remote archive
        without moving the other ~1 GB. A 206 returns the slice
        verbatim; a server that ignores Range and replies 200 with the
        full representation is sliced locally (correct, just not
        cheap). No Accept-Encoding here — a transformed representation
        would invalidate the index's byte offsets."""
        if offset < 0 or length < 1:
            raise ValueError(
                f"invalid byte range: offset={offset} length={length}"
            )

        def _once() -> bytes:
            req = urllib.request.Request(
                url,
                headers={"Range": f"bytes={offset}-{offset + length - 1}"},
            )
            with urllib.request.urlopen(
                req, timeout=self.timeout_s
            ) as resp:
                body = resp.read()
                if resp.status == 206:
                    return body
                return body[offset : offset + length]

        return self._with_retries(_once)

    def get_page(self, url: str) -> bytes:
        """GET without following redirects, returning the RAW HTTP
        response bytes (status line + headers + body) — the crawl
        fetch primitive: a 301's ``Location`` is the datum a crawler
        wants, not something the transport should silently chase
        (:func:`~nextbus2pg_spark.pipelines.frontier.crawl_loop`
        follows chains hop by hop with one budgeted fetch each), and
        3xx/4xx statuses are page VERDICTS returned as data — only
        5xx and transport errors retry/raise. The reconstruction is
        exactly what ``split_http_payload`` parses: headers pass
        through verbatim (a Content-Encoding body stays compressed in
        the spool — verbatim-refetchable, decode is the parser's job)
        except ``Transfer-Encoding`` (urllib already de-chunked) and
        ``Content-Length`` (recomputed for the de-chunked body). No
        ``Accept-Encoding`` is sent: the spool should hold what the
        server serves unsolicited."""

        def _once() -> bytes:
            req = urllib.request.Request(url)
            opener = urllib.request.build_opener(_NoRedirectHandler)
            try:
                resp = opener.open(req, timeout=self.timeout_s)
            except urllib.error.HTTPError as e:
                if e.code >= 500:
                    raise
                resp = e
            try:
                body = resp.read()
                status = getattr(resp, "status", None) or resp.code
                reason = getattr(resp, "reason", None) or ""
                head = [f"HTTP/1.1 {status} {reason}".rstrip()]
                for k, v in resp.headers.items():
                    if k.lower() in ("transfer-encoding", "content-length"):
                        continue
                    head.append(f"{k}: {v}")
                head.append(f"Content-Length: {len(body)}")
                return (
                    ("\r\n".join(head) + "\r\n\r\n").encode("latin-1")
                    + body
                )
            finally:
                resp.close()

        return self._with_retries(_once)

    def _with_retries(self, once) -> bytes:
        last_err: Exception | None = None
        for attempt in range(self.retries):
            try:
                return once()
            except urllib.error.HTTPError as e:
                if e.code < 500:
                    # 4xx is a deterministic server verdict — retrying
                    # re-asks the same question and burns the host's
                    # politeness budget (round 13; callers that treat
                    # 404 as data, e.g. RobotsFetcher, catch it)
                    raise
                last_err = e
                if attempt + 1 < self.retries:
                    self._sleep(self.backoff_s * (2 ** attempt))
            except (urllib.error.URLError, OSError) as e:
                last_err = e
                if attempt + 1 < self.retries:
                    self._sleep(self.backoff_s * (2 ** attempt))
        raise last_err  # type: ignore[misc]


class HttpFeedFetcher:
    """Poll the feed endpoint per route and write the spool documents
    the DSv2 streaming source consumes.

    ``poll_once()`` fetches every route once (offset = the route's
    newest spool filename, or 0 for a cold start — the full-snapshot
    first request, route.py:166-169) and returns the routes that
    produced a new document. Documents whose ``lastTime`` does not
    advance past the cursor are NOT re-spooled (an idle route costs no
    storage and no downstream batch — round-8 advice; previously every
    response was spooled and idle routes grew the spool each poll).
    Exception: a response with NO ``lastTime`` element at all (a
    snapshot-only feed, ``last_ms == 0``) can never advance, so it is
    stamped with the wall clock and spooled — such feeds stay live at
    one document per poll by design. ``run(n_polls, interval_s)`` is
    the daemon loop.
    """

    def __init__(
        self,
        base_url: str,
        agency: str,
        routes: "list[str]",
        spool_dir: str,
        *,
        client: FeedHttpClient | None = None,
        command: str = DEFAULT_COMMAND,
        throttle: "HostThrottle | None" = None,
        clock=time.time,
        sleep=time.sleep,
    ) -> None:
        if not routes:
            raise ValueError("routes must be non-empty")
        self.base_url = base_url.rstrip("&?")
        self.agency = agency
        self.routes = list(routes)
        self.spool_dir = spool_dir
        self.client = client or FeedHttpClient()
        self.command = command
        self.throttle = throttle
        self._clock = clock
        self._sleep = sleep
        os.makedirs(spool_dir, exist_ok=True)

    # -- cursors ---------------------------------------------------------

    def cursors(self) -> "dict[str, int]":
        """Per-route last_time_ms re-derived from the spool listing —
        the fetcher keeps no state of its own (crash-safe by
        construction; the filenames ARE the ledger)."""
        spool = _scan_spool(self.spool_dir)
        return {
            r: (spool[r][-1][0] if r in spool and spool[r] else 0)
            for r in self.routes
        }

    # -- one poll --------------------------------------------------------

    def _url(self, route: str, t_ms: int) -> str:
        q = urllib.parse.urlencode(
            {"command": self.command, "a": self.agency, "r": route,
             "t": t_ms}
        )
        sep = "&" if "?" in self.base_url else "?"
        return f"{self.base_url}{sep}{q}"

    def poll_once(self) -> "list[str]":
        from nextbus2pg_spark.sources.feed import rows_from_xml

        cursors = self.cursors()
        advanced: list[str] = []
        for route in self.routes:
            url = self._url(route, cursors[route])
            if self.throttle is not None:
                self.throttle.wait(url)
            payload = self.client.get(url)
            text = payload.decode("utf-8")
            # Parse ONLY to read lastTime (and to reject garbage before
            # it reaches the spool — a bad response must not poison the
            # stream). Row extraction happens executor-side later.
            _rows, last_ms = rows_from_xml(text, route)
            if last_ms == 0:
                # '0' sentinel (no lastTime element): a snapshot-only
                # feed can never advance its own cursor — stamp with
                # the wall clock (monotone, never regressing) and keep
                # spooling each poll.
                last_ms = max(
                    int(self._clock() * 1000), cursors[route] + 1
                )
            elif last_ms <= cursors[route]:
                # Real lastTime that did not advance: the route is
                # idle — skip the spool write entirely (no storage,
                # no downstream batch for this route this poll).
                continue
            self._write_atomic(route, last_ms, text)
            advanced.append(route)
        return advanced

    def _write_atomic(self, route: str, time_ms: int, text: str) -> None:
        _spool_write(
            self.spool_dir, f"{route}__{time_ms}.xml", text.encode("utf-8")
        )

    # -- daemon loop -----------------------------------------------------

    def run(self, n_polls: int, interval_s: float = 10.0) -> int:
        """Poll ``n_polls`` times, sleeping ``interval_s`` between
        rounds (the reference's resttime, agency.py cycle). Returns the
        number of documents spooled. Per-route HTTP failures after the
        client's retries propagate — the operator owns restart policy
        (systemd/cron), matching the at-least-once stance."""
        n_docs = 0
        for i in range(n_polls):
            n_docs += len(self.poll_once())
            if i + 1 < n_polls:
                self._sleep(interval_s)
        return n_docs


class HostThrottle:
    """Per-host politeness budget for the live fetchers (round-13
    verdict item 6): a minimum interval between requests to the same
    host, with optional per-host overrides — e.g. robots
    ``Crawl-delay`` values, which :func:`sources/robots.robots_rules`
    deliberately excludes from fetch-permission rules but
    :func:`sources/robots.robots_crawl_delays` surfaces for exactly
    this opt-in (``per_host={r["domain"]: r["crawl_delay_s"] for r in
    delays.collect()}`` — the delays frame is one bounded row per
    domain). Overrides are capped at ``cap_s`` (default 30 s, a common
    crawler ceiling) so a hostile ``Crawl-delay: 86400`` cannot stall
    the daemon.

    ``wait(url)`` blocks until the URL's host has a free slot and
    claims it; hosts are independent, so a multi-host manifest
    interleaves at full speed while each individual host sees spaced
    requests. The fetchers are single-threaded daemons (one spool
    writer), so an interval floor IS the budget — there is no
    concurrent in-flight count to bound. Clock and sleep are
    injectable for hermetic tests. One throttle instance can be
    shared across fetchers — the per-host ledger is then global to
    the daemon, which is the polite reading."""

    def __init__(
        self,
        min_interval_s: float = 0.0,
        *,
        per_host: "dict[str, float] | None" = None,
        cap_s: float = 30.0,
        clock=time.monotonic,
        sleep=time.sleep,
    ) -> None:
        if min_interval_s < 0:
            raise ValueError(
                f"min_interval_s must be >= 0; got {min_interval_s}"
            )
        self.min_interval_s = float(min_interval_s)
        self.cap_s = float(cap_s)
        self.per_host = {
            str(h).lower(): min(float(v), self.cap_s)
            for h, v in (per_host or {}).items()
            if float(v) >= 0
        }
        self._clock = clock
        self._sleep = sleep
        self._last: "dict[str, float]" = {}

    @staticmethod
    def host_of(url: str) -> str:
        return urllib.parse.urlsplit(url).netloc.lower()

    def interval_for(self, host: str) -> float:
        """Override lookup tries the full netloc first, then the
        port-stripped host (round-13 review): ``robots_crawl_delays``
        keys rows by the robots frame's domain, which is usually the
        bare host, while ``host_of`` keeps an explicit ``:port`` —
        without the fallback a site's published Crawl-delay is
        silently ignored for any URL carrying a port. (The ledger
        itself still keys on the full netloc: two ports on one host
        are distinct servers for spacing purposes.)"""
        h = host.lower()
        if h in self.per_host:
            return self.per_host[h]
        bare = re.sub(r":\d+$", "", h)
        return self.per_host.get(bare, self.min_interval_s)

    def wait(self, url: str) -> float:
        """Block until ``url``'s host has a free slot, claim it, and
        return the seconds actually slept (0.0 when the slot was
        free)."""
        host = self.host_of(url)
        interval = self.interval_for(host)
        slept = 0.0
        last = self._last.get(host)
        if last is not None and interval > 0:
            due = last + interval
            now = self._clock()
            if due > now:
                slept = due - now
                self._sleep(slept)
        self._last[host] = self._clock()
        return slept


#: Max bytes for a percent-encoded spool-name stem — leaves room for
#: offset/length/extension suffixes inside common filesystems' 255-byte
#: NAME limit.
_MAX_SPOOL_STEM = 180


def _cap_spool_stem(stem: str) -> str:
    """Cap a percent-encoded spool-name stem to a filesystem-safe
    length (round-12 review): sitemaps.org allows ``<loc>`` up to
    2048 chars and manifests can carry arbitrarily long archive
    paths, but filesystems cap a NAME at ~255 bytes — an uncapped
    stem crashes the fetcher with ENAMETOOLONG, and because the
    filename IS the resume ledger, a restarted daemon crash-loops on
    the same entry forever. Overlong stems keep their head (for
    debuggability; trimmed so no ``%XX`` escape is cut mid-sequence,
    keeping the name url-decodable) and append a sha1 of the FULL
    value: deterministic, restart-stable, collision-free in practice.
    The ledger only ever compares GENERATED names; the reverse
    mapping (``sitemap_spool_archives``) is lossy for capped names —
    provenance for those shows the truncated head + digest.

    Namespace separation (round-12 ADVICE): a SHORT stem that already
    contains the ``--sha1-`` marker is ALSO routed through the
    digest-capped form — ``quote()`` leaves ``-`` unescaped, so a
    source URL literally carrying ``--sha1-<40hex>`` could otherwise
    collide with a capped name and silently share (and skip) a ledger
    entry. Digest-capped names can never collide with pass-through
    names because no pass-through name contains the marker."""
    import hashlib

    if len(stem) <= _MAX_SPOOL_STEM and "--sha1-" not in stem:
        return stem  # quote() output is pure ASCII
    digest = hashlib.sha1(stem.encode()).hexdigest()
    head = stem[: _MAX_SPOOL_STEM - 48]
    cut = head.rfind("%", len(head) - 2)
    if cut != -1:
        head = head[:cut]
    return f"{head.replace('--sha1-', '--sha1~')}--sha1-{digest}"


def _spool_write(spool_dir: str, name: str, data: bytes) -> None:
    """Publish ``data`` as ``spool_dir/name``: write a ``.tmp-``
    sibling, then ``os.replace`` it into place (atomic on POSIX), so a
    listing sees the whole file or none of it. Hadoop's listing skips
    the dot-prefixed temporary, and so does every ledger."""
    tmp = os.path.join(spool_dir, f".tmp-{name}")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(spool_dir, name))


def _one_per_request(pending):
    return ([entry] for entry in pending)


class _LedgeredSpool:
    """The spool contract of the four crawl fetchers
    (:class:`CdxRangeFetcher`, :class:`RobotsFetcher`,
    :class:`SitemapFetcher`, :class:`PageFetcher`), stated once:

    - **The filenames are the ledger.** An item spools under its key
      percent-encoded to one flat name (overlong keys digest-capped by
      ``_cap_spool_stem``) plus the fetcher's suffix. :meth:`fetched`
      lists the names already spooled and the fetch loop requests only
      the rest, so a restarted fetcher resumes exactly where it died
      and a finished batch re-runs with no request. The fetcher keeps
      no other state.
    - **Writes are atomic** (:func:`_spool_write`): a reader never
      observes a truncated file, and a crash mid-write leaves only a
      ``.tmp-`` file that the ledger and the readers skip.
    - **At-least-once.** HTTP failures propagate after the client's
      retries; the operator owns restart policy, and the ledger makes
      the re-run cheap. One daemon serves any cluster size — the
      remote host's rate limit is the bottleneck, never Spark.
    - **Politeness.** Every request first waits on the optional shared
      :class:`HostThrottle`.

    A fetcher sets ``ext`` and supplies two steps: ``_url(item)``, the
    URL an item is fetched from (the item itself by default), and
    ``_payloads(url, items)``, the bytes spooled for each item of one
    request."""

    #: Spool file extension: the ledger lists only these names.
    ext = ""

    def __init__(
        self,
        spool_dir: str,
        *,
        client: FeedHttpClient | None = None,
        throttle: "HostThrottle | None" = None,
    ) -> None:
        self.spool_dir = spool_dir
        self.client = client or FeedHttpClient()
        self.throttle = throttle
        os.makedirs(spool_dir, exist_ok=True)

    @classmethod
    def _name(cls, key: str, tag: str = "") -> str:
        stem = _cap_spool_stem(urllib.parse.quote(key, safe=""))
        return stem + tag + cls.ext

    def fetched(self) -> "set[str]":
        """Spool names already fetched (the resume ledger)."""
        return {
            n for n in os.listdir(self.spool_dir)
            if n.endswith(self.ext) and not n.startswith(".tmp-")
        }

    def _url(self, item) -> str:
        return item

    def _spool(self, named, runs=_one_per_request) -> int:
        """The one fetch loop. ``named`` yields ``(spool name, item)``
        pairs; items already spooled, or repeated, are skipped, and
        ``runs`` groups the rest into requests (one item each by
        default). Each request is throttled, fetched, and its items
        spooled in order. Returns the number of files spooled."""
        done = self.fetched()
        pending = []
        for name, item in named:
            if name not in done:
                done.add(name)
                pending.append((name, item))
        n = 0
        for run in runs(pending):
            url = self._url(run[0][1])
            if self.throttle is not None:
                self.throttle.wait(url)
            payloads = self._payloads(url, [item for _, item in run])
            for (name, _), data in zip(run, payloads, strict=True):
                _spool_write(self.spool_dir, name, data)
                n += 1
        return n


class CdxRangeFetcher(_LedgeredSpool):
    """Execute a CDX fetch manifest as HTTP ranged reads (round-11
    verdict item 4 — the consumer ``cdx_archive_manifest`` lacked):
    each capture ``(filename, offset, length)`` from the filtered
    index becomes ONE ``Range`` request against the archive host, and
    the returned bytes — a complete gzip member in the Common Crawl
    layout — land in a spool directory the Spark side reads with
    ``binaryFile`` → ``warc_documents`` (``sources/warc.
    warc_spool_archives``). The index-first pipeline thus ends in
    record bytes: index → filter/dedup → manifest → ranged fetch →
    parse, never touching the ~99% of the crawl the filter dropped.
    A short response (truncated read, stale CDX length past EOF)
    raises before anything of its request is published — the ledger
    would otherwise mark a corrupt record done forever (round-12
    review).
    """

    ext = ".warcrec"

    def __init__(
        self,
        base_url: str,
        spool_dir: str,
        *,
        client: FeedHttpClient | None = None,
        throttle: "HostThrottle | None" = None,
    ) -> None:
        super().__init__(spool_dir, client=client, throttle=throttle)
        self.base_url = base_url.rstrip("/")

    def _spool_name(self, filename: str, offset: int, length: int) -> str:
        # CC filenames carry path segments — percent-encode to one
        # flat, collision-free, restart-stable spool name.
        return self._name(filename, f"__{offset}_{length}")

    def _named(self, captures):
        for cap in captures:
            key = (cap["filename"], int(cap["offset"]), int(cap["length"]))
            yield self._spool_name(*key), key

    def _url(self, capture) -> str:
        return f"{self.base_url}/{capture[0]}"

    def _payloads(self, url: str, run) -> "list[bytes]":
        # one Range read spanning the run, sliced back into its records
        lo = run[0][1]
        hi = max(offset + length for _, offset, length in run)
        data = self.client.get_range(url, lo, hi - lo)
        if len(data) != hi - lo:
            raise ValueError(
                f"short Range response for {run[0][0]}@{lo}: got "
                f"{len(data)} of {hi - lo} bytes — refusing to "
                f"publish {len(run)} partial record slices"
            )
        return [data[o - lo : o - lo + ln] for _, o, ln in run]

    def fetch(self, captures) -> int:
        """Fetch every capture dict (``filename``/``offset``/
        ``length`` keys — ``cdx_records`` rows after filtering) not
        already spooled, one request each; returns the number
        fetched."""
        return self._spool(self._named(captures))

    def fetch_coalesced(
        self,
        captures,
        max_gap: int = 0,
        max_span_bytes: int = 64 << 20,
    ) -> int:
        """Execute the manifest with coalesced TRANSPORT but
        per-record spool semantics (round-12 ADVICE fix): not-yet-
        spooled captures that are adjacent — or separated by at most
        ``max_gap`` bytes — in the same archive file are fetched as
        ONE ``Range`` request, then sliced back into the ORIGINAL
        per-record ranges before spooling. Gap bytes travel over the
        wire but never reach the spool, so records the index filter
        dropped cannot be re-introduced downstream — unlike passing
        ``coalesce_ranges`` output to :meth:`fetch`, which spools
        merged spans whole (see that function's caveat). The ledger
        stays per record: resume skips already-spooled records, and a
        partially-fetched span re-requests only the span covering the
        missing records.

        Memory bound: a merged span is materialized in RAM before
        slicing (gap bytes included), so runs are split whenever the
        span would exceed ``max_span_bytes`` (default 64 MiB) — a
        dense manifest over a 1 GB archive with a generous ``max_gap``
        must not spike the daemon's RSS by the archive size."""
        if max_gap < 0:
            raise ValueError(f"max_gap must be >= 0; got {max_gap}")
        if max_span_bytes < 1:
            raise ValueError(
                f"max_span_bytes must be >= 1; got {max_span_bytes}"
            )

        def runs(pending):
            by_file: "dict[str, list]" = {}
            for entry in pending:
                by_file.setdefault(entry[1][0], []).append(entry)
            for entries in by_file.values():
                entries.sort(key=lambda e: e[1])
                run, end = [], 0
                for entry in entries:
                    _, offset, length = entry[1]
                    new_end = max(end, offset + length)
                    if (
                        run
                        and offset <= end + max_gap
                        and new_end - run[0][1][1] <= max_span_bytes
                    ):
                        run.append(entry)
                        end = new_end
                    else:
                        if run:
                            yield run
                        run, end = [entry], offset + length
                yield run

        return self._spool(self._named(captures), runs)


def coalesce_ranges(captures, max_gap: int = 0):
    """Merge per-record byte ranges that are adjacent (or separated by
    at most ``max_gap`` bytes) within the same archive file into one
    Range request — after index filtering, surviving records are often
    contiguous runs of the original archive, and one 10-record read
    beats ten 1-record reads on any HTTP host. Returns new capture
    dicts sorted by (filename, offset); a merged span's bytes are a
    valid concatenated-member WARC stream, which ``warc_iter_records``
    parses natively.

    CAVEAT (round-12 ADVICE fix): a merged span covers
    ``[first.offset, max end)``, so with ``max_gap > 0`` the gap
    bytes ARE fetched — and when the span is handed to
    :meth:`CdxRangeFetcher.fetch` they are spooled and parsed too,
    re-introducing whole records the index filter had excluded.
    ``max_gap = 0`` (the default) never includes a byte outside the
    surviving captures. When you want gap-bridging transport without
    the semantic leak, use :meth:`CdxRangeFetcher.fetch_coalesced`,
    which slices the merged response back to the original per-record
    ranges before spooling."""
    if max_gap < 0:
        raise ValueError(f"max_gap must be >= 0; got {max_gap}")
    out: "list[dict]" = []
    ordered = sorted(
        (
            {"filename": c["filename"], "offset": int(c["offset"]),
             "length": int(c["length"])}
            for c in captures
        ),
        key=lambda c: (c["filename"], c["offset"]),
    )
    for c in ordered:
        if (
            out
            and out[-1]["filename"] == c["filename"]
            and c["offset"]
            <= out[-1]["offset"] + out[-1]["length"] + max_gap
        ):
            end = max(
                out[-1]["offset"] + out[-1]["length"],
                c["offset"] + c["length"],
            )
            out[-1]["length"] = end - out[-1]["offset"]
        else:
            out.append(c)
    return out


class RobotsFetcher(_LedgeredSpool):
    """Fetch per-host ``robots.txt`` into the spool (round 13 —
    the hop that was missing between a URL frontier and
    ``sources/robots.robots_rules``, which consumes a ``(domain,
    robots_txt)`` frame; ``robots_spool_frame`` reads the spool back
    as exactly that). With this, the live loop closes end-to-end:
    frontier hosts → fetched robots → rules + crawl-delays →
    throttled page fetches.

    RFC 9309 §2.3.1 availability semantics, applied at FETCH time so
    the parse side stays a pure function of the spooled text:

    - 2xx — the body spools verbatim;
    - 4xx ("unavailable") — robots is treated as ABSENT, crawl
      unrestricted: a single COMMENT line spools (``# robots.txt
      unavailable …`` — parses to zero rules, so robots_allowed's
      no-match default applies; a truly empty file would be SKIPPED
      by Spark's binaryFile listing and the verdict would vanish);
    - 5xx / transport failure after retries ("unreachable") — nothing
      spools and the error propagates: the spec says assume complete
      disallow while unreachable, and an UNSPOOLED host is exactly
      that verdict for a frontier that inner-joins on fetched domains
      (fail-closed; the ledger retries the host on the next run)."""

    ext = ".robots"

    def __init__(
        self,
        spool_dir: str,
        *,
        client: FeedHttpClient | None = None,
        throttle: "HostThrottle | None" = None,
        scheme: str = "https",
    ) -> None:
        super().__init__(spool_dir, client=client, throttle=throttle)
        self.scheme = scheme

    @classmethod
    def spool_name(cls, host: str) -> str:
        return cls._name(host.lower())

    def _url(self, host: str) -> str:
        return f"{self.scheme}://{host}/robots.txt"

    def _payloads(self, url: str, hosts) -> "list[bytes]":
        try:
            return [self.client.get(url)]
        except urllib.error.HTTPError as e:
            if e.code >= 500:
                raise
            return [
                b"# robots.txt unavailable (HTTP "
                + str(e.code).encode()
                + b"): crawl unrestricted per RFC 9309 2.3.1.3\n"
            ]

    def fetch(self, hosts) -> int:
        """Fetch every host's robots.txt not already spooled; returns
        the number spooled."""
        return self._spool((self.spool_name(h), h) for h in hosts)


def robots_spool_frame(spark, spool_dir: str):
    """Read a :class:`RobotsFetcher` spool as the ``(domain,
    robots_txt)`` frame ``robots_rules`` / ``robots_crawl_delays``
    consume — one host per row, the domain percent-decoded back out of
    the ledger filename (digest-capped names — hosts are bounded at
    253 octets, so only adversarial inputs cap — surface their
    truncated head; the rules for such a row still parse, provenance
    is just lossy). Bytes become text via the binary→string CAST, not
    ``decode``: robots.txt is ASCII in practice, a stray high byte is
    data noise, and Spark 4's ``decode`` raises MALFORMED_CHARACTER_
    CODING on it while the cast passes the bytes through — a malformed
    comment must not fail the scan."""
    from pyspark.sql import functions as F

    return read_binary_files(spark, spool_dir, "*.robots").select(
        F.url_decode(
            F.regexp_extract("path", r"([^/]+)\.robots$", 1)
        ).alias("domain"),
        F.col("content").cast("string").alias("robots_txt"),
    )


class SitemapFetcher(_LedgeredSpool):
    """Fetch sitemap documents into the spool (round-12 verdict
    item 4) — the fetch hop between ``robots_sitemaps``' advertised
    URLs and ``sitemap_entries``' parse, including the one-level
    ``<sitemapindex>`` → child-sitemap indirection the spec allows
    (fetch the advertised URLs, parse, fetch the ``kind='sitemap'``
    locs, parse again; the ledger makes the second pass incremental).

    Payloads are spooled AS-IS: sitemaps.org explicitly allows gzipped
    sitemap files (``.xml.gz``), and those arrive as gzip CONTENT (the
    representation itself, not a Content-Encoding the client already
    stripped) — decompression is the parser's job
    (``sources/sitemap.sitemap_documents``), keeping the spool bytes
    verbatim-refetchable."""

    ext = ".sitemap"

    @classmethod
    def spool_name(cls, url: str) -> str:
        return cls._name(url)

    def _payloads(self, url: str, urls) -> "list[bytes]":
        return [self.client.get(url)]

    def fetch(self, urls) -> int:
        """Fetch every URL not already spooled; returns the number
        fetched."""
        return self._spool((self.spool_name(u), u) for u in urls)


class PageFetcher(_LedgeredSpool):
    """Fetch crawl PAGES into the spool — the live executor for
    :func:`~nextbus2pg_spark.pipelines.frontier.crawl_loop`'s fetch
    batches. Each spool file is one ``<url>\\r\\n`` line followed by
    the RAW HTTP response (:meth:`FeedHttpClient.get_page`: redirects
    not followed, 3xx/4xx kept as data, Content-Encoding bodies
    verbatim) — the URL line makes the file SELF-describing, because
    the filename alone cannot be: overlong URLs get digest-capped
    names (``_cap_spool_stem``) that do not unquote back, and a
    frame keyed on a lossy filename would silently drop exactly
    those pages from the corpus while the ledger marks them fetched
    (round-13 review)."""

    ext = ".page"

    @classmethod
    def spool_name(cls, url: str) -> str:
        return cls._name(url)

    def _payloads(self, url: str, urls) -> "list[bytes]":
        return [url.encode("utf-8") + b"\r\n" + self.client.get_page(url)]

    def fetch(self, urls) -> int:
        """Fetch every URL not already spooled; returns the number
        fetched."""
        return self._spool((self.spool_name(u), u) for u in urls)


def page_spool_frame(spark, spool_dir: str):
    """Read a :class:`PageFetcher` spool as a ``warc_documents``-shaped
    frame — ``(uri, http_status, content, content_encoding, location,
    parse_error)`` — by running the WARC seam's OWN HTTP parser
    (``sources/warc.split_http_payload``: de-chunk, Content-Encoding
    decode, charset resolution incl. the meta pre-scan, Location
    surfaced) over each spooled raw response inside an Arrow
    ``mapInPandas`` stage. Per-record quarantine matches
    ``warc_documents``: a payload that fails to decode yields ONE row
    with ``parse_error`` set, NULL content, status/location kept when
    parseable. ``location`` is resolved ABSOLUTE against the page URI
    (RFC 9110 allows relative Location). The URI comes from the
    file's leading ``<url>\\r\\n`` line, never the filename —
    digest-capped names are not reversible (round-13 review). One
    file per page, the same shape the ranged fetcher produces."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.sources.warc import (
        HttpPayloadError,
        _resolve_charset,
        split_http_payload,
    )

    def _parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for data in pdf["content"]:
                raw = bytes(data)
                sep = raw.find(b"\r\n")
                if sep < 0:
                    # no URL line: not a PageFetcher file — quarantine
                    rows.append(
                        (None, None, None, None, None,
                         "spool file missing url line")
                    )
                    continue
                uri = raw[:sep].decode("utf-8", errors="replace")
                raw = raw[sep + 2:]
                status = None
                content = None
                charset = None
                coding = None
                location = None
                err = None
                try:
                    line, body, charset, coding, location = (
                        split_http_payload(raw)
                    )
                    m = line.split(" ")
                    try:
                        status = int(m[1]) if len(m) > 1 else None
                    except ValueError:
                        status = None
                    content = body.decode(
                        _resolve_charset(charset) or "utf-8",
                        errors="replace",
                    )
                except HttpPayloadError as e:
                    m = (e.status or "").split(" ")
                    try:
                        status = int(m[1]) if len(m) > 1 else None
                    except ValueError:
                        status = None
                    coding = e.content_encoding
                    location = e.location
                    err = str(e)
                if location is not None:
                    location = urllib.parse.urljoin(uri, location)
                rows.append(
                    (uri, status, content, coding, location, err)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "uri", "http_status", "content",
                    "content_encoding", "location", "parse_error",
                ],
            )

    return read_binary_files(spark, spool_dir, "*.page").select(
        "content"
    ).mapInPandas(
        _parse,
        schema=(
            "uri string, http_status int, content string,"
            " content_encoding string, location string,"
            " parse_error string"
        ),
    )


def page_fetch_fn(fetcher: PageFetcher, spark):
    """Adapt a :class:`PageFetcher` into the ``fetch_fn(urls_df)``
    contract of :func:`~nextbus2pg_spark.pipelines.frontier.
    crawl_loop`: collect the batch's URLs (bounded by the loop's
    ``page_budget`` — the fetch boundary is a driver-side action in
    the spool architecture, exactly like the manifest executor), fetch
    them through the ledger + throttle, and return ONLY the requested
    pages from the spool frame (left-semi on the batch — the spool
    accumulates across iterations, the loop wants the new batch)."""

    def fetch(urls_df):
        from pyspark.sql import functions as F

        urls = [r.url for r in urls_df.select("url").collect()]
        fetcher.fetch(urls)
        frame = page_spool_frame(spark, fetcher.spool_dir)
        return frame.join(
            urls_df.select(F.col("url").alias("uri")), "uri",
            "left_semi",
        )

    return fetch
