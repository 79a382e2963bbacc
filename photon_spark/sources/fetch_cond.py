"""Conditional-GET revalidation — the fetch-side half of the recrawl
loop (`plans/schedule.recrawl_schedule` is the policy half).

The reference crawls every URL exactly once and never revisits
(photon.py:91-100 pops the frontier into `processed` permanently), so
it has no freshness story at all. A production crawler re-fetching a
10^10-URL corpus cannot afford to re-download unchanged bodies: HTTP
validators (RFC 9110 §13) let the origin answer `304 Not Modified` to
`If-None-Match: <etag>` / `If-Modified-Since: <date>`, turning an
unchanged page into a ~200-byte exchange instead of a full transfer.
At recrawl scale the bandwidth saved is the dominant cost term — web
change-rate studies (Cho & Garcia-Molina 2003, the same policy model
recrawl_schedule implements) put the unchanged fraction per revisit
well above half.

Composition (each stage individually tested; `recrawl.run_recrawl`
is the looped form):

    validators = prior state (url, etag, last_modified)    # CrawlStore
    wave   = recrawl_schedule(observations, pages, k)      # policy
    wave   = wave.join(validators, "url", "left")          # attach
    result = fetch_http.fetch_stage(wave, transport)       # revalidate
    state, obs = apply_revalidation(prev, result, wave_id) # this module
    observations = observations.unionByName(obs)           # feeds policy

The fetch itself is the crawl's one HTTP stage: `fetch_stage` sends
`If-None-Match` / `If-Modified-Since` for every row that carries a
stored validator and marks a 304 answer `not_modified`, so the crawl
and the recrawl share one requester — headers, UA rotation, proxies,
politeness delay, content-type gate and failure mapping.

Scale notes: `apply_revalidation` is ONE url-keyed full-outer join —
both sides are url-unique so the join is shuffle-bounded by the page
count, and at store scale it is exactly the MERGE INTO shape
CrawlStore documents (match → update, not-matched → insert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_revalidation(
    prev: DataFrame, fetched: DataFrame, wave: int
) -> tuple[DataFrame, DataFrame]:
    """Merge a conditional-fetch result into the stored page state and
    emit the change observations that feed recrawl_schedule.

    ``prev``: url-unique stored state (url, body, etag, last_modified,
    fetched_wave). ``fetched``: url-unique `fetch_stage` rows.
    Returns ``(state, observations)``:

    * 304 row      → keep stored body + validators; checked, unchanged.
    * 2xx row      → take the new body + response validators; changed.
    * failure (0)  → keep EVERYTHING stored (stale beats lost); NO
      observation row — a transport error says nothing about change
      rate, and counting it as "unchanged" would bias the Cho &
      Garcia-Molina estimator recrawl_schedule runs on these logs.
    * url only in ``fetched`` → fresh insert (discovery during a
      revalidation wave); observed as changed (first sighting).
    * url only in ``prev``    → untouched carry-over.

    ``state`` is (url, body, etag, last_modified, fetched_wave,
    checked_wave); ``observations`` is (url, wave, changed int) —
    unionByName it onto the log recrawl_schedule reads. Pure
    expressions over one full-outer url join; at store scale this is
    the documented CrawlStore MERGE INTO shape."""
    p = prev.select(
        F.col("url"),
        F.col("body").alias("p_body"),
        F.col("etag").alias("p_etag"),
        F.col("last_modified").alias("p_lm"),
        F.col("fetched_wave").alias("p_fw"),
    )
    f = fetched.select(
        F.col("url"),
        F.col("status").alias("f_status"),
        F.col("body").alias("f_body"),
        F.col("etag").alias("f_etag"),
        F.col("last_modified").alias("f_lm"),
        F.col("not_modified").alias("f_nm"),
    )
    j = p.join(f, "url", "full_outer")
    fetched_row = F.col("f_status").isNotNull()
    failed = fetched_row & (F.col("f_status") == 0)
    unchanged = fetched_row & F.col("f_nm")
    modified = fetched_row & ~F.col("f_nm") & (F.col("f_status") != 0)
    state = j.select(
        "url",
        F.when(modified, F.col("f_body")).otherwise(F.col("p_body")).alias("body"),
        F.when(modified, F.col("f_etag")).otherwise(F.col("p_etag")).alias("etag"),
        F.when(modified, F.col("f_lm")).otherwise(F.col("p_lm")).alias(
            "last_modified"
        ),
        F.when(modified, F.lit(wave)).otherwise(F.col("p_fw")).alias("fetched_wave"),
        F.when(fetched_row & ~failed, F.lit(wave))
        .otherwise(F.lit(None).cast("int"))
        .alias("checked_wave"),
    )
    observations = (
        j.where(fetched_row & ~failed)
        .select(
            "url",
            F.lit(wave).alias("wave"),
            F.when(unchanged, F.lit(0)).otherwise(F.lit(1)).alias("changed"),
        )
    )
    return state, observations


def http_freshness(
    responses: DataFrame,
    cc_col: str = "cache_control",
    date_col: str = "date_s",
    expires_col: str = "expires_s",
    lm_col: str = "last_modified_s",
) -> DataFrame:
    """RFC 9111 §4.2 freshness lifetime per response — the
    server-declared recrawl interval, the HTTP-header sibling of the
    sitemap's <changefreq> (`recrawl_schedule_cold`) and the third
    freshness source next to observed change rate (`recrawl_schedule`):

      freshness_s = s-maxage               (shared-cache directive —
                                            a crawler is a shared cache)
                  | max-age
                  | max(0, Expires − Date)
                  | max(0, (Date − Last-Modified) div 10)   (§4.2.2
                                            heuristic, the 10% rule)
                  | 0
      with no-store / no-cache forcing 0 (always revalidate; the
      validator-carrying `fetch_stage` makes that cheap), and
      stale_at_s = Date + freshness_s — feed it straight into the
      recrawl wave filter (stale_at_s <= now).

    Integer seconds end to end; pure scan-side CASE/regexp expressions
    (zero joins, zero Python) over whatever header columns the fetch
    stage recorded."""
    cc = F.lower(F.coalesce(F.col(cc_col), F.lit("")))
    smax = F.nullif(
        F.regexp_extract(cc, r"s-maxage=([0-9]+)", 1), F.lit("")
    ).cast("long")
    mmax = F.nullif(
        F.regexp_extract(cc, r"max-age=([0-9]+)", 1), F.lit("")
    ).cast("long")
    date_s = F.col(date_col)
    life = (
        F.when(
            cc.contains("no-store") | cc.contains("no-cache"),
            F.lit(0).cast("long"),
        )
        .when(smax.isNotNull(), smax)
        .when(mmax.isNotNull(), mmax)
        .when(
            F.col(expires_col).isNotNull() & date_s.isNotNull(),
            F.greatest(
                F.lit(0).cast("long"), F.col(expires_col) - date_s
            ),
        )
        .when(
            F.col(lm_col).isNotNull() & date_s.isNotNull(),
            F.greatest(
                F.lit(0).cast("long"),
                F.expr(f"({date_col} - {lm_col}) div 10"),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
    )
    return responses.withColumn("freshness_s", life).withColumn(
        "stale_at_s", date_s + F.col("freshness_s")
    )
