"""URL/domain-plane curation operators (SURVEY LLM-pipeline family).

The public CCNet/RefinedWeb recipe curates on the URL plane BEFORE any
text-plane work: canonicalize URLs, collapse exact re-crawls of the
same page, bound how much of the corpus any one domain contributes,
and drop blocklisted domains. Everything here is pure projections,
one keep-min window on the canonical-URL key, and a broadcast join of
per-domain rates — no corpus-sized collect, no per-domain sort.

The driver's ``documents`` table carries a ``source`` column but no
URL, so :func:`synthetic_url` derives a deterministic, deliberately
messy URL per document (mixed-case scheme/host, default port,
tracking params, fragments, trailing slashes) from (source, doc_id) —
the same stand-in discipline the media plane uses for binary content.
The canonicalizer itself is column-generic and works on any real URL
column; scheme-less/unparseable URLs canonicalize to NULL and are
annotated (decision table) or conservatively dropped (filter form),
never silently collapsed onto a shared bogus key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from streamprocessing_kafka_finlight_news_dashboard_spark.session import materialize

#: query-param keys a canonicalizer strips: click/campaign trackers
#: that fragment crawl dedup without changing page content (the
#: utm_* family by prefix, plus the common click ids).
TRACKING_KEYS = ("fbclid", "gclid", "ref")
TRACKING_PREFIX = "utm_"

#: default per-domain document quota for the curation gate — sized so
#: the hash gate genuinely engages on the testdata (≈25 docs/domain at
#: sf0.01, ≈250 at sf0.1); a production crawl would set this per
#: corpus-card policy.
DOMAIN_QUOTA = 15

#: resolution of the quota keep rate: rates are parts per 2^30, gated
#: on the md5 bucket's low 30 bits (2^32 % 2^30 == 0, so the modulo is
#: exactly uniform — a decimal modulus like 1e9 would bias residues).
#: Percent granularity would floor to a 0% rate for any domain with
#: more than 100·quota documents and DROP it entirely — at 100 TB the
#: hot domains are exactly there. With 2^30 resolution the rate is
#: also clamped to ≥1, so the worst case keeps max(quota, n·2^-30)
#: docs per domain instead of zero.
QUOTA_RESOLUTION = 1 << 30

#: domains dropped outright by the curation gate (the stand-in for a
#: spam/SEO-mill blocklist; real deployments load this from a table).
BLOCKLIST = ("www.src00.example.com", "www.src130.example.com")


def synthetic_url(doc_id: Column, source: Column) -> Column:
    """Deterministic messy URL per document — the testdata stand-in
    for a crawl's url column (documents.parquet has none). Four
    rotating shapes exercise every canonicalization rule: uppercase
    scheme/host + explicit default port, tracking params before and
    after real ones, fragments, trailing slashes.

    The path id is ``doc_id // 4``, so the URL space GROWS LINEARLY
    with the corpus — a bounded path space (the first design used
    doc_id % 50) saturates at scale and the dedup gate collapses any
    larger corpus to the same few thousand survivors, destroying the
    downstream stages' scale evidence (seen in the 50× flagship
    smoke). Shapes 2 and 3 of each 4-doc group both resolve to ONE
    mirror-domain page (fragment/trailing-slash variants of
    ``https://mirror.example.org/Articles/<group>``), so re-crawl
    dedup has a guaranteed collision per group at every SF — and the
    mirror domain aggregates ~25 % of survivors, giving the domain
    quota a genuinely hot domain to cap, which is exactly what mirror
    hosts do to real crawls.

    The DOMAIN space also grows with the corpus (host carries a
    ``doc_id // 2000`` block suffix): a fixed domain set would let the
    per-domain quota cap the whole gated corpus at ~quota·|domains|
    docs at ANY scale, flattening the downstream stages' scale
    evidence — a real crawl's domain count grows with the crawl."""
    group = ((doc_id - doc_id % 4) / 4).cast("long")
    block = ((doc_id - doc_id % 2000) / 2000).cast("long")
    base = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper(source),
        block.cast("string"),
        F.lit(".Example.COM:443/Articles/"),
        group.cast("string"),
    )
    mirror = F.concat(F.lit("/Articles/"), group.cast("string"))
    qid = (doc_id % 7).cast("string")
    # shape rotates WITH the group ((id + group) mod 4 is a bijection
    # within each 4-doc group, so every group still has exactly one of
    # each shape and the {2,3} mirror pair survives) — a bare
    # doc_id % 4 aligns with the testdata's source = f(doc_id % 20)
    # and would leave half the sources without any shape-0/1 URL.
    shape = (doc_id + group) % 4
    return (
        F.when(shape == 0, F.concat(base, F.lit("/?utm_source=feed&ref=home&id="), qid))
        .when(shape == 1, F.concat(base, F.lit("?id="), qid, F.lit("&utm_campaign=x&b=2")))
        .when(
            shape == 2,
            F.concat(
                F.lit("HTTPS://Mirror.Example.ORG:443"),
                mirror,
                F.lit("/#section-"),
                (doc_id % 3).cast("string"),
            ),
        )
        .otherwise(F.concat(F.lit("https://mirror.example.org"), mirror))
    )


#: DuckDB twin of synthetic_url — keep literally in sync (the url
#: catalog entries interpolate this into their oracle SQL).
SYNTHETIC_URL_SQL = (
    "CASE WHEN (doc_id + doc_id // 4) % 4 = 0 THEN"
    " 'HTTPS://WWW.' || upper(source) || CAST(doc_id // 2000 AS VARCHAR)"
    " || '.Example.COM:443/Articles/'"
    " || CAST(doc_id // 4 AS VARCHAR) || '/?utm_source=feed&ref=home&id='"
    " || CAST(doc_id % 7 AS VARCHAR)"
    " WHEN (doc_id + doc_id // 4) % 4 = 1 THEN"
    " 'HTTPS://WWW.' || upper(source) || CAST(doc_id // 2000 AS VARCHAR)"
    " || '.Example.COM:443/Articles/'"
    " || CAST(doc_id // 4 AS VARCHAR) || '?id=' || CAST(doc_id % 7 AS VARCHAR)"
    " || '&utm_campaign=x&b=2'"
    " WHEN (doc_id + doc_id // 4) % 4 = 2 THEN"
    " 'HTTPS://Mirror.Example.ORG:443/Articles/'"
    " || CAST(doc_id // 4 AS VARCHAR) || '/#section-'"
    " || CAST(doc_id % 3 AS VARCHAR)"
    " ELSE"
    " 'https://mirror.example.org/Articles/'"
    " || CAST(doc_id // 4 AS VARCHAR) END"
)


def url_host(url: Column) -> Column:
    """Lowercased host with default ports stripped (https:443,
    http:80). Everything between '://' and the first of '/?#'.
    Scheme-less/malformed URLs return NULL — without the guard every
    unparseable URL would share host '' (and canonical key '://'+path),
    and the keep-min dedup would mass-delete unrelated documents.
    Empty-host URLs with a scheme ('https:///x') are NULL too (round-11
    advice): they'd otherwise all share pseudo-domain '' and be
    quota-gated as one domain instead of being annotated NULL."""
    hostport = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    stripped = (
        F.when(
            (scheme == "https") & hostport.endswith(":443"),
            F.substring(hostport, 1, F.length(hostport) - 4),
        )
        .when(
            (scheme == "http") & hostport.endswith(":80"),
            F.substring(hostport, 1, F.length(hostport) - 3),
        )
        .otherwise(hostport)
    )
    return F.when((scheme != "") & (stripped != ""), stripped)


def url_canonicalize(url: Column) -> Column:
    """RFC-ish URL canonicalization as one pure projection: lowercase
    scheme+host, strip default ports, drop the fragment, normalize the
    path (strip trailing '/', empty → '/'), and rebuild the query with
    tracking params removed (utm_* prefix, fbclid/gclid/ref) and the
    survivors SORTED so param order never fragments dedup keys. Path
    case is preserved (paths are case-sensitive per RFC 3986)."""
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(url)
    raw_path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(
        raw_path.endswith("/") & (F.length(raw_path) > 1),
        F.substring(raw_path, 1, F.length(raw_path) - 1),
    ).otherwise(raw_path)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    raw_q = F.regexp_extract(url, r"\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(raw_q, "&"),
                lambda p: (p != "")
                & ~F.substring_index(p, "=", 1).startswith(TRACKING_PREFIX)
                & ~F.substring_index(p, "=", 1).isin(*TRACKING_KEYS),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )


#: DuckDB twins of url_host/url_canonicalize over a column named
#: ``url`` — same regexes, same param filter/sort, kept literally in
#: sync with the Column functions above.
URL_HOST_SQL = r"""
    CASE WHEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = ''
         THEN NULL
         WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) = ''
              OR (lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'https'
                  AND lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) = ':443')
              OR (lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'http'
                  AND lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) = ':80')
         THEN NULL
         WHEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'https'
              AND lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) LIKE '%:443'
         THEN left(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
                   len(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))) - 4)
         WHEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) = 'http'
              AND lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) LIKE '%:80'
         THEN left(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)),
                   len(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))) - 3)
         ELSE lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1))
    END
"""

URL_CANON_SQL = (
    r"""
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' ||
    ("""
    + URL_HOST_SQL
    + r""") ||
    (CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
          THEN '/'
          WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) LIKE '%/'
               AND len(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)) > 1
          THEN left(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                    len(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)) - 1)
          ELSE regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
     END) ||
    (CASE WHEN coalesce(array_to_string(list_sort(list_filter(
                   string_split(coalesce(regexp_extract(url, '\?([^#]*)', 1), ''), '&'),
                   p -> p != ''
                        AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                        AND split_part(p, '=', 1) NOT IN ('fbclid', 'gclid', 'ref'))),
               '&'), '') = ''
          THEN ''
          ELSE '?' || coalesce(array_to_string(list_sort(list_filter(
                   string_split(coalesce(regexp_extract(url, '\?([^#]*)', 1), ''), '&'),
                   p -> p != ''
                        AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                        AND split_part(p, '=', 1) NOT IN ('fbclid', 'gclid', 'ref'))),
               '&'), '')
     END)
"""
)


def quota_keep_rate(n_docs: Column, quota: int) -> Column:
    """Per-domain keep rate in parts per QUOTA_RESOLUTION:
    min(RESOLUTION, max(1, floor(RESOLUTION·quota/n))). The max(1)
    clamp means granularity can never zero out a domain (see
    QUOTA_RESOLUTION); the min caps at keep-everything."""
    return (
        F.least(
            F.lit(QUOTA_RESOLUTION),
            F.greatest(
                F.lit(1),
                F.floor(F.lit(float(QUOTA_RESOLUTION * quota)) / n_docs),
            ),
        )
        .cast("long")
    )


def quota_keep_rate_sql(count_expr: str, quota: int) -> str:
    """DuckDB twin of :func:`quota_keep_rate` over a SQL count
    expression — generated, so the two can never drift."""
    return (
        f"least({QUOTA_RESOLUTION}, greatest(1, "
        f"CAST(floor({QUOTA_RESOLUTION * quota}.0 / {count_expr}) AS BIGINT)))"
    )


def quota_bucket(key: Column) -> Column:
    """The quota gate's hash bucket: md5 hex chars 17-24 of the PAGE
    key (the canonical URL — page-keyed, so every re-crawl of a page
    draws the same verdict, which is what makes the streaming gate and
    the batch decision table agree per page by construction), low 30
    bits. A NULL key (unparseable URL) propagates to a NULL verdict."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 17, 8), 16, 10)
        .cast("long")
        % QUOTA_RESOLUTION
    )


#: DuckDB twin of quota_bucket over a page-key expression.
def quota_bucket_sql(key_expr: str) -> str:
    return (
        f"CAST('0x' || substring(md5(CAST({key_expr} AS VARCHAR)), 17, 8) "
        f"AS BIGINT) % {QUOTA_RESOLUTION}"
    )


def domain_keep_rates(
    domain_stats: DataFrame, quota: int = DOMAIN_QUOTA
) -> DataFrame:
    """(domain, keep_rate) quota rates (parts per QUOTA_RESOLUTION)
    from per-domain doc counts — :func:`quota_keep_rate`, the SAME
    formula as :func:`url_curation_decisions`, factored out so a
    drained streaming stats store (read_domain_stats) and the batch
    decision table derive identical rates from identical counts."""
    return domain_stats.select(
        "domain",
        quota_keep_rate(F.col("n_docs"), quota).alias("keep_rate"),
    )


def url_marked(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Shared URL-plane annotation: ``__canon`` / ``__domain`` columns
    plus the ``__dup`` canonical-URL re-crawl flag (min-id per
    canonical key wins). Unparseable URLs (NULL canonical key) are
    pre-filtered BEFORE the dup window (round-11 advice): the inner
    join on domain drops them anyway, and without the filter a crawl
    with a large unparseable fraction funnels every NULL-canon row
    through ONE window partition — the exact skew this module
    elsewhere designs against. ONE definition consumed by the batch
    gate, the epoch-rates builder, and the streaming composed
    pipeline, so their dup/rate populations can never drift."""
    return (
        df.withColumn("__canon", url_canonicalize(F.col(url_col)))
        .withColumn("__domain", url_host(F.col(url_col)))
        .filter(F.col("__canon").isNotNull())
        .withColumn(
            "__dup",
            F.col(id_col) > F.min(id_col).over(W.partitionBy("__canon")),
        )
    )


def epoch_domain_rates(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quota: int = DOMAIN_QUOTA,
) -> DataFrame:
    """(domain, keep_rate) quota rates computed over a corpus EXACTLY
    as :func:`url_curation_gate` computes them internally (first-
    occurrence pages per domain → :func:`quota_keep_rate`) — the
    epoch-frozen rates input for the streaming composed pipeline, so
    an ingest-time verdict and the batch gate agree per document."""
    marked = url_marked(df, url_col, id_col)
    return (
        marked.filter(~F.col("__dup") & F.col("__domain").isNotNull())
        .groupBy(F.col("__domain").alias("domain"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("domain", quota_keep_rate(F.col("n_docs"), quota).alias("keep_rate"))
    )


def url_curation_gate(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quota: int = DOMAIN_QUOTA,
    blocklist: tuple[str, ...] = BLOCKLIST,
) -> DataFrame:
    """The FILTER form of :func:`url_curation_decisions` for pipeline
    composition: returns the input rows (all original columns, url
    dropped) that survive canonical-URL dedup, the hash-gated domain
    quota, and the blocklist — same decisions, no audit columns, and
    the document payload (text) rides through the one keep-min window
    instead of paying a join back on doc_id."""
    marked = (
        url_marked(df, url_col, id_col)
        .transform(materialize)  # rates + gate both consume it
    )
    rates = (
        marked.filter(~F.col("__dup") & F.col("__domain").isNotNull())
        .groupBy("__domain")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select("__domain", quota_keep_rate(F.col("__n"), quota).alias("__keep_rate"))
    )
    # inner join on domain: rows with an unparseable URL (NULL domain)
    # drop here — the conservative filter-form default; the decision
    # table annotates them NULL instead
    return (
        marked.join(F.broadcast(rates), "__domain")
        .filter(
            ~F.col("__dup")
            & (quota_bucket(F.col("__canon")) < F.col("__keep_rate"))
            & ~F.col("__domain").isin(*blocklist)
        )
        .drop("__domain", "__canon", "__dup", "__keep_rate", url_col)
    )


def url_curation_decisions(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quota: int = DOMAIN_QUOTA,
    blocklist: tuple[str, ...] = BLOCKLIST,
) -> DataFrame:
    """Per-document URL-plane curation decision table — the audit
    record a crawl pipeline materializes before dropping anything:

    - ``canonical_url`` / ``domain`` — :func:`url_canonicalize` /
      :func:`url_host` projections;
    - ``is_url_dup`` — exact re-crawl collapse: every doc whose
      canonical URL already has a smaller ``id_col`` (keep-min window
      on the canonical key — duplicate groups are re-crawls of one
      page, so the sorted partitions stay page-sized at any corpus);
    - ``n_domain_docs`` / ``keep_rate`` / ``quota_kept`` — the domain
      quota as a HASH GATE, not a per-domain rank: survivors of the
      dedup are counted per domain (|domains|-row aggregate, broadcast
      back), the keep rate is min(R, max(1, floor(R·quota/n))) parts
      per R = QUOTA_RESOLUTION = 2^30 (percent granularity would zero
      out any domain past 100·quota docs — the hot-domain case the
      gate exists for), and each doc keeps iff its PAGE's md5 bucket
      (hex chars 17-24 of the canonical URL, low 30 bits) clears the
      rate — page-keyed, so every re-crawl of a page draws the same
      verdict and the streaming gate agrees with this table per page
      by construction.
      Expected ≈quota docs per domain with NO per-domain sort — the
      rank formulation would funnel a hot domain (half a real crawl)
      through one sorted task, the exact skew the two-level packer
      avoids; approximate-count quota is what CCNet-scale pipelines
      actually run;
    - ``blocklisted`` / ``kept`` — the blocklist gate and the final
      decision (not a dup, quota-kept, not blocklisted)."""
    canon = url_canonicalize(F.col(url_col))
    base = df.select(
        F.col(id_col),
        canon.alias("canonical_url"),
        url_host(F.col(url_col)).alias("domain"),
    ).withColumn(
        # unparseable URLs (NULL canonical key) are never dup-flagged —
        # they share no page identity; they come out annotated NULL
        "is_url_dup",
        F.col("canonical_url").isNotNull()
        & (F.col(id_col) > F.min(id_col).over(W.partitionBy("canonical_url"))),
    )
    # two consumers (domain counts + final projection) — checkpoint so
    # the canonicalization subtree runs once
    base = materialize(base)
    rates = (
        base.filter(~F.col("is_url_dup") & F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_domain_docs"))
        .withColumn("keep_rate", quota_keep_rate(F.col("n_domain_docs"), quota))
    )
    bucket = quota_bucket(F.col("canonical_url"))
    return (
        base.join(F.broadcast(rates), "domain", "left")
        .select(
            id_col,
            "domain",
            "canonical_url",
            "is_url_dup",
            "n_domain_docs",
            "keep_rate",
            (~F.col("is_url_dup") & (bucket < F.col("keep_rate"))).alias("quota_kept"),
            F.col("domain").isin(*blocklist).alias("blocklisted"),
            (
                ~F.col("is_url_dup")
                & (bucket < F.col("keep_rate"))
                & ~F.col("domain").isin(*blocklist)
            ).alias("kept"),
        )
    )
