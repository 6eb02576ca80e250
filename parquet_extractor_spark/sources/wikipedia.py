"""Wikipedia crawler source (SURVEY §2.1 S6/S7; api.py:647-979).

mwclient/wikipediaapi are not installed (and CI must stay offline), so
the network calls are injectable: the crawl pipeline takes fetch
functions as parameters and ships them to executors via mapInPandas.
Tests inject deterministic fakes; production would pass real
wikipediaapi-backed fetchers.

Pipeline parity with the reference:
1. enumerate category members, union + dedupe across related
   categories, cap at MAX_CRAWL_ARTICLES (api.py:661-714 → U1/J1);
2. fetch page text per title on executors, rate-limited per partition
   (api.py:732-749, 938 → S7/O8);
3. drop non-existent pages (P8), namespace filter (P7).

Rate-limit note (SURVEY §7): a per-partition sleep gives
``concurrency × 1/delay`` global QPS, NOT 1/delay. The reference's
politeness contract is global ≤1 req/s, so the fetch stage coalesces
to FETCH_PARALLELISM partitions and sleeps delay*FETCH_PARALLELISM
per row — global rate stays ≤ 1/delay regardless of cluster size.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from parquet_extractor_spark.constants import (
    DEFAULT_CRAWL_ARTICLES,
    FETCH_DELAY_S,
    MAX_CRAWL_ARTICLES,
)
from parquet_extractor_spark.sources.tables import local_frame

FETCH_PARALLELISM = 1  # politeness: single fetch lane (api.py:938)

# The reference's crawl roots: the primary category plus its related-
# category fallbacks (api.py:664, api.py:686-692). The REST face uses
# these as its default `categories` payload.
WIKI_CRAWL_CATEGORIES = [
    "World_War_II",
    "World_War_II_by_country",
    "Military_equipment_of_World_War_II",
    "Battles_of_World_War_II",
    "Military_operations_of_World_War_II",
    "World_War_II_military_personnel",
]

TITLE_SCHEMA = StructType(
    [
        StructField("title", StringType(), False),
        StructField("category", StringType(), True),
        StructField("namespace", IntegerType(), True),
    ]
)

PAGE_SCHEMA = StructType(
    [
        StructField("title", StringType(), False),
        StructField("exists", BooleanType(), True),
        StructField("text", StringType(), True),
        StructField("summary", StringType(), True),
    ]
)


def category_titles(
    spark: SparkSession,
    categories: list[str],
    list_members: Callable[[str], list[tuple[str, int]]],
    limit: int = DEFAULT_CRAWL_ARTICLES,
) -> DataFrame:
    """Enumerate members of several categories → deduped, capped title
    table. ``list_members(cat)`` returns (title, namespace) tuples —
    driver-side fetch (category listings are small), executors get
    only the result."""
    cap = min(limit, MAX_CRAWL_ARTICLES)
    rows = []
    for cat in categories:
        for title, ns in list_members(cat):
            rows.append((title, cat, ns))
    df = local_frame(spark, rows, TITLE_SCHEMA)
    return (
        df.filter(F.col("namespace") == 0)  # articles only (api.py:675)
        .dropDuplicates(["title"])  # U1 cross-category dedup
        .orderBy("title")
        .limit(cap)
    )


def fetch_pages(
    titles: DataFrame,
    fetch_page: Callable[[str], tuple[bool, str, str]],
    delay_s: float = FETCH_DELAY_S,
) -> DataFrame:
    """Fetch page content per title on executors via mapInPandas.
    ``fetch_page(title)`` returns (exists, text, summary). Coalesced to
    FETCH_PARALLELISM partitions so the global request rate is bounded
    (see module docstring)."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"title": [], "exists": [], "text": [], "summary": []}
            for title in pdf["title"]:
                if delay_s:
                    time.sleep(delay_s * FETCH_PARALLELISM)
                try:
                    exists, text, summary = fetch_page(title)
                except Exception:
                    exists, text, summary = False, None, None  # O4 tolerance
                out["title"].append(title)
                out["exists"].append(exists)
                out["text"].append(text)
                out["summary"].append(summary)
            yield pd.DataFrame(out)

    work = titles.select("title").coalesce(FETCH_PARALLELISM)
    pages = work.mapInPandas(_fetch, schema=PAGE_SCHEMA)
    return pages.filter(F.col("exists"))  # P8 existence filter


def live_list_members() -> Callable[[str], list[tuple[str, int]]]:
    """Real category lister over mwclient (reference api.py:661-714).
    Import-gated: raises ImportError where mwclient isn't installed —
    tests importorskip on it, CI stays offline, and the same callable
    shape as the test fakes plugs into :func:`category_titles`."""
    import mwclient  # noqa: F401 — hard dep of this adapter only

    site = mwclient.Site("en.wikipedia.org")

    def _list(category: str) -> list[tuple[str, int]]:
        cat = site.categories[category.removeprefix("Category:")]
        return [(m.name, m.namespace) for m in cat.members()]

    return _list


def live_fetch_page() -> Callable[[str], tuple[bool, str, str]]:
    """Real page fetcher over wikipediaapi (reference api.py:732-749).
    Import-gated like :func:`live_list_members`; returned callable is
    shipped to executors by fetch_pages' mapInPandas."""
    import wikipediaapi  # noqa: F401

    wiki = wikipediaapi.Wikipedia(
        user_agent="parquet-extractor-spark/0.1", language="en"
    )

    def _fetch(title: str) -> tuple[bool, str, str]:
        page = wiki.page(title)
        if not page.exists():
            return False, None, None
        return True, page.text, page.summary

    return _fetch


def crawl_category(
    spark: SparkSession,
    categories: list[str],
    list_members: Callable[[str], list[tuple[str, int]]],
    fetch_page: Callable[[str], tuple[bool, str, str]],
    limit: int = DEFAULT_CRAWL_ARTICLES,
    delay_s: float = FETCH_DELAY_S,
) -> DataFrame:
    """Full crawl pipeline: categories → titles → pages."""
    titles = category_titles(spark, categories, list_members, limit)
    return fetch_pages(titles, fetch_page, delay_s)
