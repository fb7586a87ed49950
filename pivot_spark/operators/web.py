"""URL / domain analytics — the C4 / CommonCrawl curation step the
reference never needed: extract the registrable domain from each
document's source URL, aggregate corpus composition per domain, and
drop blocklisted domains (Raffel et al. 2020 §2.2 filter badlisted
domains; Dodge et al. 2021 audit C4 by domain).

Everything is scan-stage Catalyst (``parse_url`` is JVM-side) plus one
domain-keyed hash aggregate; the blocklist drop is a broadcast
left-anti join (blocklists are thousands of rows, never corpus-sized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pivot_spark.operators._fence import pin

# public-suffix-lite: second-level labels that combine with a 2-letter
# ccTLD to form the registrable suffix (co.uk, com.au, ac.jp, ...).
# A full public-suffix list is a broadcast-join swap-in; this covers
# the dominant patterns deterministically.
_SECOND_LEVEL = ("co", "com", "ac", "gov", "org", "net", "edu")


def host_of(url: Column) -> Column:
    """Hostname of a URL (``parse_url(url, 'HOST')``), lowercased."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def registered_domain(host: Column) -> Column:
    """Registrable domain of a hostname: the last two labels, or the
    last three when the TLD is 2 letters and the second-to-last label
    is a known public second-level (``co.uk``-style). Single-label
    hosts pass through unchanged. Pure array arithmetic."""
    ls = F.split(host, r"\.")
    n = F.size(ls)
    tld = F.element_at(ls, -1)
    sec = F.when(n >= 2, F.element_at(ls, -2))
    three = (
        (n >= 3) & (F.length(tld) == 2) & sec.isin(*_SECOND_LEVEL)
    )
    return F.when(
        three, F.array_join(F.slice(ls, n - 2, 3), ".")
    ).otherwise(
        F.array_join(F.slice(ls, F.greatest(F.lit(1), n - 1), 2), ".")
    )


def domain_stats(
    df: DataFrame,
    url_col: str,
    lang_col: str | None = None,
    size_col: str | None = None,
) -> DataFrame:
    """Per-registrable-domain corpus composition: ``n_docs``, corpus
    ``share`` (of rows with a parseable host), plus ``n_langs`` /
    ``avg_size`` when the columns are given. One domain-keyed hash
    aggregate; the total for ``share`` comes from a single-row
    aggregate broadcast back (never a second scan)."""
    dom = registered_domain(host_of(F.col(url_col)))
    base = df.select(dom.alias("domain"), *(c for c in (lang_col, size_col) if c))
    base = base.filter(F.col("domain").isNotNull())
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if lang_col:
        aggs.append(F.count_distinct(F.col(lang_col)).alias("n_langs"))
    if size_col:
        aggs.append(F.avg(F.col(size_col).cast("double")).alias("avg_size"))
    # both the output and the total read `per` (plan-pinned)
    per = pin(base.groupBy("domain").agg(*aggs), "web.domain_stats")
    total = per.agg(F.sum("n_docs").alias("__total"))
    return per.crossJoin(F.broadcast(total)).select(
        *per.columns,
        (F.col("n_docs") / F.col("__total")).alias("share"),
    )


def drop_blocklisted(
    df: DataFrame, url_col: str, blocked: DataFrame, domain_col: str = "domain"
) -> DataFrame:
    """Remove rows whose registrable domain appears in ``blocked``
    (a small (domain) frame) — broadcast left-anti join, corpus never
    shuffled."""
    dom = registered_domain(host_of(F.col(url_col)))
    tagged = df.withColumn("__dom", dom)
    out = tagged.join(
        F.broadcast(blocked.select(F.col(domain_col).alias("__dom"))),
        "__dom",
        "left_anti",
    )
    return out.drop("__dom")
