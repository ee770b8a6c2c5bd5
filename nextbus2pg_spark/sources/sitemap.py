"""sitemaps.org protocol parsing — crawl-frontier seeding.

A polite crawl discovers most of a site's URLs not by link-walking but
from the sitemaps its robots.txt advertises (``Sitemap:`` lines are
group-independent per RFC 9309 §2.3 "other records" / sitemaps.org):
robots → sitemap URLs → fetch (``sources/http_fetcher.
SitemapFetcher``, spool-ledgered) → ``<urlset>`` page entries, with
the ``<sitemapindex>`` indirection resolved by ONE more fetch+parse
round over the ``kind='sitemap'`` locs (the spec allows exactly one
level of index nesting — an index may not list another index).
Together with ``sources/robots.py`` (permission) and
``sources/cdx.py`` (what the archive already holds) this completes
the frontier-construction seam.

The parse is JVM-side: the robots line scan is the same
posexplode/regexp pass ``robots_rules`` uses, and the XML parse is
Spark's native ``from_xml`` (repeated child elements map to arrays —
no Python, no external XML lib). Malformed XML yields NULL arrays
(from_xml's contract) and therefore zero entries — quarantine by
emptiness, never a crashed scan. The one non-JVM step is
:func:`sitemap_documents`' gunzip (sitemaps.org explicitly allows
``.xml.gz`` sitemap files and big sites ship them that way; Spark SQL
has no binary-column gunzip), an Arrow ``mapInPandas`` stage with the
same shape as the WARC fanout.

Parity citation: the reference has no crawl surface (single XML feed,
reference README); extension surface for the crawl-ingestion seam.
"""

from __future__ import annotations

import gzip
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

from nextbus2pg_spark.sources.files import read_binary_files

#: Both sitemap document shapes in one schema: ``<urlset>`` carries
#: repeated ``<url>`` children, ``<sitemapindex>`` repeated
#: ``<sitemap>`` children; whichever the document is, the other array
#: parses NULL.
SITEMAP_XML_SCHEMA = (
    "url array<struct<loc string, lastmod string>>, "
    "sitemap array<struct<loc string, lastmod string>>"
)


def robots_sitemaps(
    robots: DataFrame,
    domain_col: str = "domain",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Extract advertised sitemap URLs from per-domain robots.txt →
    ``(domain, sitemap_url)``, deduped — the robots → sitemap seeding
    hop (robots.txt is where sitemaps.org tells sites to PUBLISH
    their sitemap locations; the output feeds ``SitemapFetcher`` /
    ``sitemap_documents`` directly).

    Sitemap records are group-INDEPENDENT (they apply regardless of
    user-agent groups and may appear anywhere in the file), so this is
    a flat line scan: split, strip comments, keep ``sitemap:`` keys
    case-insensitively, take everything after the FIRST colon (the
    value is an absolute URL and contains colons itself). Only full
    absolute http(s) URLs survive (the spec requires a full URL;
    relative values are site bugs and are dropped rather than guessed
    at — round 13); exact duplicate lines dedup."""
    lines = robots.select(
        F.col(domain_col).alias("domain"),
        F.explode(F.split(F.col(text_col), "\n")).alias("raw"),
    )
    cleaned = lines.select(
        "domain",
        F.trim(F.regexp_replace("raw", "#.*$", "")).alias("line"),
    )
    return (
        cleaned.where(F.lower("line").rlike(r"^sitemap\s*:"))
        .select(
            "domain",
            F.trim(
                F.regexp_extract("line", r"(?i)^sitemap\s*:(.*)$", 1)
            ).alias("sitemap_url"),
        )
        .where(F.col("sitemap_url").rlike(r"^(?i)https?://"))
        .distinct()
    )


SITEMAP_DOC_SCHEMA = StructType(
    [
        StructField("sitemap_url", StringType(), True),
        StructField("xml", StringType(), True),
    ]
)


def sitemap_spool_archives(spark, spool_dir: str) -> DataFrame:
    """Read a ``SitemapFetcher`` spool as ``(sitemap_url, payload)``
    rows: one spool file per row, the URL recovered from the
    percent-encoded filename (the same filenames-as-ledger contract
    the WARC spool uses)."""
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    return read_binary_files(spark, spool_dir, "*.sitemap").select(
        F.url_decode(F.regexp_replace(name, r"\.sitemap$", "")).alias(
            "sitemap_url"
        ),
        F.col("content").alias("payload"),
    )


def sitemap_documents(archives: DataFrame) -> DataFrame:
    """Sitemap payload bytes → XML text: gunzip ``.xml.gz`` payloads
    (detected by the gzip magic, not the URL suffix — servers lie
    about names more than about bytes), pass plain XML through, decode
    utf-8-replace (sitemaps.org mandates UTF-8). Corrupt gzip streams
    yield NULL xml (quarantine-by-emptiness downstream, same contract
    as malformed XML under ``from_xml``). Arrow ``mapInPandas``, one
    sitemap per row — the decompress the round-12 verdict item 4
    called for, reusing the stdlib member decompress the WARC seam
    relies on."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, payload in zip(pdf["sitemap_url"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if raw[:2] == b"\x1f\x8b":
                    try:
                        raw = gzip.decompress(raw)
                    except (OSError, zlib.error, EOFError):
                        out.append((url, None))
                        continue
                out.append((url, raw.decode("utf-8", "replace")))
            yield pd.DataFrame(out, columns=["sitemap_url", "xml"])

    return archives.select("sitemap_url", "payload").mapInPandas(
        _decode, schema=SITEMAP_DOC_SCHEMA
    )


def sitemap_spool_entries(spark, spool_dir: str) -> DataFrame:
    """Spool → entries in one call: ``sitemap_spool_archives`` →
    :func:`sitemap_documents` → :func:`sitemap_entries` with the
    source URL kept — the parse leg of the frontier recipe. Run the
    fetch+parse twice to flatten an index: fetch the advertised URLs,
    parse, ``fetch`` the ``kind='sitemap'`` locs, parse again (the
    fetcher's ledger skips everything already spooled, so the second
    pass costs only the children)."""
    return sitemap_entries(
        sitemap_documents(sitemap_spool_archives(spark, spool_dir)),
        keep_cols=["sitemap_url"],
    )


def sitemap_entries(
    df: DataFrame, xml_col: str = "xml", keep_cols: "list[str] | None" = None
) -> DataFrame:
    """Parse sitemap XML documents → one row per entry:
    ``(*keep_cols, kind, loc, lastmod)`` where ``kind`` is ``url``
    (a page, from ``<urlset>``) or ``sitemap`` (one more hop, from
    ``<sitemapindex>``). Feed ``sitemap``-kind locs back through a
    fetch + this function to flatten an index — the indirection is
    one level by spec (``SitemapFetcher`` + :func:`sitemap_spool_entries`
    implement that hop).

    Malformed documents parse to NULL arrays and contribute zero
    rows."""
    keep = list(keep_cols or [])
    parsed = df.select(
        *keep, F.from_xml(F.col(xml_col), SITEMAP_XML_SCHEMA).alias("__p")
    )

    def rows(field: str, kind: str) -> DataFrame:
        return parsed.select(
            *keep,
            F.lit(kind).alias("kind"),
            F.explode(F.col(f"__p.{field}")).alias("__e"),
        ).select(
            *keep,
            "kind",
            F.col("__e.loc").alias("loc"),
            F.col("__e.lastmod").alias("lastmod"),
        )

    return rows("url", "url").unionByName(rows("sitemap", "sitemap"))


def synthetic_sitemap_archives(
    docs: DataFrame, n_sites: int = 8
) -> DataFrame:
    """Fixture generator for ``q_sitemap_frontier``: fabricate a
    closed-form sitemap corpus from the documents table — documents
    group into ``doc_id % n_sites`` sites; each site publishes ONE
    ``<urlset>`` (every doc a ``<url>`` with a closed-form lastmod)
    plus ONE ``<sitemapindex>`` referencing it. Odd sites gzip their
    urlset (the sitemaps.org ``.xml.gz`` form); ALL urlsets are NAMED
    ``.xml.gz`` so the decoder must detect by magic bytes, not by
    suffix (even sites ship plain bytes under the lying name — the
    inverse lie appears in the hermetic chain test). Everything is
    closed-form in doc_id so a SQL oracle states the expected entries
    without an XML parser."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        site = int(pdf["__site"].iloc[0])
        base = f"https://site{site}.example"
        parts = []
        for d in sorted(int(x) for x in pdf["doc_id"]):
            parts.append(
                f"<url><loc>https://example.org/doc/{d}</loc>"
                f"<lastmod>2026-01-{d % 28 + 1:02d}</lastmod></url>"
            )
        urlset = ("<urlset>" + "".join(parts) + "</urlset>").encode()
        if site % 2:
            urlset = gzip.compress(urlset, 6)
        index = (
            f"<sitemapindex><sitemap><loc>{base}/urlset.xml.gz</loc>"
            "</sitemap></sitemapindex>"
        ).encode()
        return pd.DataFrame(
            {
                "sitemap_url": [
                    f"{base}/urlset.xml.gz", f"{base}/index.xml",
                ],
                "payload": [urlset, index],
            }
        )

    grouped = docs.select(
        (F.col("doc_id") % n_sites).alias("__site"), "doc_id"
    )
    return grouped.groupBy("__site").applyInPandas(
        _build, schema="sitemap_url string, payload binary"
    )
