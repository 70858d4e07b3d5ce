"""URL curation ops — the front of a web-scale training-data pipeline.

C4/RefinedWeb/FineWeb-style URL handling: parse → normalize → registered
domain → URL-level dedup → domain blocklist → per-domain caps. Everything
is JVM codegen (RE2-safe regex, plain array expressions — no higher-order
lambdas, which Spark 4 runs interpreted); the only shuffles are the ones
the semantics force (one window for URL keep-one, one window for the
per-domain cap) and the blocklist join broadcasts a tiny dimension.

These operators go beyond the reference engine's PDF surface; they are
the corpus-curation duties the north rule's web-scale tier needs (the
same family as functions/corpusops.py). DuckDB oracle mirrors live in
entry_queries.py (q_url_normalize / q_domain_curate) and replay every
regex and case rule verbatim.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# RE2-safe (no backrefs/lookaround): identical semantics under Java
# regex and DuckDB's RE2.
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"
# tracking params dropped by normalization (C4-style query scrub)
TRACKING_PARAM_RE = r"(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&]*"
# second-level labels that behave like public suffixes (registered
# domain = 3 labels under these, else 2): deliberately a small fixed
# heuristic set, NOT the full PSL — both engines inline the same list
SECOND_LEVEL_SUFFIXES = ("co", "com", "net", "org", "gov", "ac", "edu")


def _registered_domain(host_col):
    """Registered-domain heuristic on an already-lowercased host: last
    two labels, or last three when the second-level label is in
    SECOND_LEVEL_SUFFIXES (example.co.uk). try_element_at keeps ANSI
    mode happy on short hosts; CASE branches evaluate lazily."""
    labs = F.split(host_col, r"\.")
    n = F.size(labs)
    l1 = F.try_element_at(labs, F.lit(-1))
    l2 = F.try_element_at(labs, F.lit(-2))
    l3 = F.try_element_at(labs, F.lit(-3))
    return (F.when((n >= 3) & l2.isin(*SECOND_LEVEL_SUFFIXES),
                   F.concat_ws(".", l3, l2, l1))
            .when(n >= 2, F.concat_ws(".", l2, l1))
            .otherwise(host_col))


def normalize_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonicalize URLs for dedup/quota purposes. Adds ``norm_url`` and
    ``domain`` (registered domain). Rules, in order:

    - scheme and host lowercased; one leading ``www.`` stripped
    - default ports dropped (``:80`` for http, ``:443`` for https);
      other explicit ports kept
    - path: runs of ``/`` collapsed, trailing ``/`` stripped, empty
      path → ``/``
    - query: tracking params removed (TRACKING_PARAM_RE), empty params
      dropped, the rest sorted bytewise and rejoined; empty query drops
      the ``?``
    - fragment always dropped

    Pure projection (regex + sort_array/array_remove — all codegen); at
    100 TB this runs inside the scan stage and the normalized key is
    what every downstream shuffle hashes on.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.regexp_extract(u, _AUTHORITY_RE, 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    host_n = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    default_port = (((scheme == "http") & (port == "80"))
                    | ((scheme == "https") & (port == "443")))
    port_part = F.when((port == "") | default_port, F.lit("")) \
                 .otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(u, _PATH_RE, 1)
    path_c = F.regexp_replace(path, r"/{2,}", "/")
    path_s = F.regexp_replace(path_c, r"/$", "")
    path_n = F.when(path_s == "", F.lit("/")).otherwise(path_s)
    query = F.regexp_extract(u, _QUERY_RE, 1)
    q_clean = F.regexp_replace(query, TRACKING_PARAM_RE, "")
    q_sorted = F.array_join(
        F.sort_array(F.array_remove(F.split(q_clean, "&"), "")), "&")
    q_part = F.when(q_sorted == "", F.lit("")) \
              .otherwise(F.concat(F.lit("?"), q_sorted))
    norm = F.concat(scheme, F.lit("://"), host_n, port_part, path_n, q_part)
    return (df.withColumn("norm_url", norm)
            .withColumn("domain", _registered_domain(host_n)))


def url_dedup(df: DataFrame, url_col: str = "norm_url",
              id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min ``id_col``) per normalized URL — the
    crawl-level exact dedup that runs before any content hashing. One
    window shuffle on the URL; same shape as dedup.dedup_keep_one."""
    w = Window.partitionBy(url_col).orderBy(id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def filter_blocked_domains(df: DataFrame, blocked: list[str],
                           domain_col: str = "domain") -> DataFrame:
    """Drop rows whose registered domain is on a blocklist. The list is
    a broadcast anti-join (never a shuffle of the corpus side); real
    blocklists are ~1e5 rows — trivially broadcastable."""
    spark = df.sparkSession
    bl = spark.createDataFrame([(d,) for d in blocked], [domain_col])
    return df.join(F.broadcast(bl), domain_col, "left_anti")


def anchor_corpus(links: DataFrame, url_col: str = "href",
                  id_col: str = "doc_id",
                  anchor_col: str = "anchor_text") -> DataFrame:
    """Anchor-text corpus: aggregate the visible anchor texts pointing
    at each normalized target URL — the classic web-corpus move (the
    anchors describing a page are a high-signal summary of it, and the
    in-link counts are the quality prior next to PageRank). Consumes
    the ``htmlops.extract_links`` edge shape (id, href, anchor_text).

    Keeps absolute links only (a scheme://), normalizes targets with
    :func:`normalize_urls` (so "http://www.x.com/a/" and "https://x.com
    /a?utm_source=t" pool), and returns one row per target:
    (norm_url, domain, n_refs long, n_sources long, anchors string —
    sorted distinct non-empty anchor texts joined by ' | ').

    Plan shape: codegen regex filter + normalization projection in the
    scan stage, then ONE groupBy(norm_url) with map-side combine. The
    anchors set is collect_list(distinct-after) — bounded in practice
    by anchor diversity per page; a production cap would slice the
    sorted array, kept un-capped here so the gate is exact."""
    absolute = links.filter(
        F.col(url_col).rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"))
    n = normalize_urls(absolute, url_col)
    nonempty = F.when(F.col(anchor_col) != "", F.col(anchor_col))
    return (n.groupBy("norm_url", "domain")
            .agg(F.count("*").cast("long").alias("n_refs"),
                 F.countDistinct(id_col).cast("long").alias("n_sources"),
                 F.array_join(F.array_sort(F.array_distinct(
                     F.collect_list(nonempty))), " | ").alias("anchors")))


def domain_cap(df: DataFrame, cap: int, domain_col: str = "domain",
               key_col: str = "doc_id") -> DataFrame:
    """Keep at most ``cap`` documents per registered domain, chosen by
    deterministic key hash (RefinedWeb-style anti-spam quota). Delegates
    to corpusops.quota_sample — one window shuffle on the domain; adds
    ``sample_rank``."""
    from .corpusops import quota_sample
    return quota_sample(df, domain_col, cap, key_col)


# ---------------------------------------------------------------------------
# robots.txt compliance (RFC 9309) — crawl-politeness filter
# ---------------------------------------------------------------------------

# RE2-safe, (?i) inline flag works identically under Java regex and RE2.
ROBOTS_UA_RE = r"(?i)^user-agent:\s*(\S+)"
ROBOTS_RULE_RE = r"(?i)^(allow|disallow):\s*(\S*)"


def parse_robots(robots: DataFrame, host_col: str = "host",
                 text_col: str = "robots_txt") -> DataFrame:
    """Parse per-host robots.txt bodies into a rule table
    ``(host, rule 'allow'|'disallow', prefix, prefix_len long)`` scoped
    to the ``User-agent: *`` groups (RFC 9309 §2.2.1; named-agent
    groups are for someone else's crawler).

    Grammar subset, deliberately: literal path prefixes only — no
    ``*``/``$`` wildcards, no percent-decoding — the subset whose
    longest-match semantics are exactly replayable in ANSI SQL (the
    DuckDB oracle replays every regex verbatim). Handling per the RFC:

    - field names case-insensitive (``DISALLOW:`` works)
    - ``#`` comments stripped, surrounding whitespace trimmed
    - consecutive ``User-agent:`` lines share the following rule group
      (``FooBot`` + ``*`` stacked above one ``Disallow:`` both get it)
    - multiple ``*`` groups merge (their rules union)
    - empty ``Allow:`` / ``Disallow:`` values are no-ops (dropped)
    - rules before any ``User-agent:`` line are ignored
    - unknown fields (``Crawl-delay:``, ``Sitemap:``) neither add rules
      nor split a group

    Plan: posexplode lines (robots bodies are KB-scale — the explode is
    bounded), one window shuffle on host for the group-id running sum,
    one self-join on (host, block) to keep ``*`` groups. At 100 TB the
    rule table is tiny next to the URL table it filters.
    """
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("ln", "raw"))
    line = F.regexp_replace(
        F.regexp_replace(F.col("raw"), "#.*", ""), r"^\s+|\s+$", "")
    meaningful = (lines
                  .withColumn("line", line)
                  .withColumn("ua", F.lower(
                      F.regexp_extract("line", ROBOTS_UA_RE, 1)))
                  .withColumn("rtype", F.lower(
                      F.regexp_extract("line", ROBOTS_RULE_RE, 1)))
                  .withColumn("prefix",
                              F.regexp_extract("line", ROBOTS_RULE_RE, 2))
                  .filter((F.col("ua") != "") | (F.col("rtype") != "")))
    w = Window.partitionBy("host").orderBy("ln")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_ua = (F.col("ua") != "").cast("int")
    blocks = (meaningful
              .withColumn("_prev_ua", F.lag(is_ua, 1, 0).over(w))
              .withColumn("_new", ((is_ua == 1)
                                   & (F.col("_prev_ua") == 0)).cast("int"))
              .withColumn("blk", F.sum("_new").over(wcum)))
    star = (blocks.filter((F.col("ua") == "*") & (F.col("blk") > 0))
            .select("host", "blk").distinct())
    return (blocks
            .filter((F.col("rtype") != "") & (F.col("prefix") != ""))
            # robots bodies are KB-scale, so the '*'-block list always
            # fits a broadcast — keeps the rule build sort-merge-free
            .join(F.broadcast(star), ["host", "blk"])
            .select("host", F.col("rtype").alias("rule"), "prefix",
                    F.length("prefix").cast("long").alias("prefix_len")))


# RE2-safe: (?s) dotall + lazy quantifier behave identically under Java
# regex and RE2; sitemap entry bodies never nest.
SITEMAP_URL_RE = r"(?s)<url>(.*?)</url>"
SITEMAP_LOC_RE = r"(?s)<loc>([^<]*)</loc>"
SITEMAP_LASTMOD_RE = r"(?s)<lastmod>([^<]*)</lastmod>"
SITEMAP_PRIORITY_RE = r"(?s)<priority>([^<]*)</priority>"


def _xml_trim(col):
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def parse_sitemaps(sitemaps: DataFrame, host_col: str = "host",
                   xml_col: str = "sitemap_xml") -> DataFrame:
    """Parse per-host sitemap.xml bodies into an entry table
    ``(host, si long, loc, lastmod, priority double)`` — the crawl-side
    companion of :func:`parse_robots` (sitemaps.org protocol; the
    ``Sitemap:`` field robots.txt may carry points at these).

    Regex-subset parser, deliberately: ``<url>`` blocks are extracted
    with a dotall lazy match, then ``<loc>``/``<lastmod>``/
    ``<priority>`` pulled from each block — no XML entity decoding, no
    nested elements — the subset that replays exactly in the DuckDB
    oracle. Blocks without a ``<loc>`` are dropped; values are
    whitespace-trimmed; priority is ``try_cast`` to double (ANSI-safe:
    junk becomes NULL, not a job kill). ``si`` is the entry's position
    within its host's sitemap.

    Plan: regexp_extract_all + posexplode — sitemap bodies are KB-scale
    so the explode is bounded; everything else is codegen projection.
    At 100 TB the entry table is tiny next to the crawl it steers."""
    blocks = sitemaps.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.regexp_extract_all(F.col(xml_col),
                                          F.lit(SITEMAP_URL_RE), 1))
         .alias("si", "block"))
    loc = _xml_trim(F.regexp_extract("block", SITEMAP_LOC_RE, 1))
    lastmod = _xml_trim(F.regexp_extract("block", SITEMAP_LASTMOD_RE, 1))
    prio = _xml_trim(
        F.regexp_extract("block", SITEMAP_PRIORITY_RE, 1)
    ).try_cast("double")
    return (blocks
            .withColumn("loc", loc)
            .withColumn("lastmod", lastmod)
            .withColumn("priority", prio)
            .filter(F.col("loc") != "")
            .select("host", F.col("si").cast("long").alias("si"),
                    "loc", "lastmod", "priority"))


def sitemap_staleness(entries: DataFrame, crawled: DataFrame,
                      url_col: str = "url",
                      fetched_col: str = "fetched_on") -> DataFrame:
    """Reconcile a sitemap entry table against a crawl ledger — the
    scheduling decision a recrawl pipeline makes: what to fetch next.

    ``crawled`` carries one row per URL (``url_col``, ``fetched_col`` —
    an ISO ``YYYY-MM-DD`` date string, so ordering is plain string
    comparison on both engines; no timestamp-zone knife-edges). Output
    is one row per URL seen on either side: ``(url, host, lastmod,
    fetched_on, status)`` with

    - ``uncrawled``: listed in the sitemap, never fetched
    - ``stale``: fetched before the sitemap's ``lastmod``
    - ``fresh``: fetched on/after ``lastmod`` (or no lastmod given)
    - ``unlisted``: fetched but absent from the sitemap (discovery —
      candidates for demotion or for sitemap gap reports)

    Plan: ONE full-outer sort-merge join on the URL (full-outer cannot
    broadcast; both sides hash-partition on the join key). '' sentinels
    for the absent side keep the output scalar-typed."""
    e = entries.select(F.col("loc").alias("_loc"), "host", "lastmod")
    c = crawled.select(F.col(url_col).alias("_url"),
                       F.col(fetched_col).alias("_fetched"))
    j = e.join(c, e["_loc"] == c["_url"], "full_outer")
    status = (F.when(F.col("_loc").isNull(), F.lit("unlisted"))
              .when(F.col("_url").isNull(), F.lit("uncrawled"))
              .when((F.col("lastmod") != "")
                    & (F.col("lastmod") > F.col("_fetched")),
                    F.lit("stale"))
              .otherwise(F.lit("fresh")))
    return (j.select(
        F.coalesce(F.col("_loc"), F.col("_url")).alias("url"),
        F.coalesce(F.col("host"), F.lit("")).alias("host"),
        F.coalesce(F.col("lastmod"), F.lit("")).alias("lastmod"),
        F.coalesce(F.col("_fetched"), F.lit("")).alias("fetched_on"),
        status.alias("status")))


def crawl_schedule(candidates: DataFrame, per_host_budget: int,
                   url_col: str = "url", host_col: str = "host",
                   status_col: str = "status",
                   priority_col: str = "priority") -> DataFrame:
    """Pick the next crawl batch from a :func:`sitemap_staleness`-shaped
    table under a per-host politeness budget — the frontier-scheduling
    step between "may we fetch" (robots) and "what changed" (sitemap).

    Only ``uncrawled``/``stale`` rows are candidates. Within each host,
    rank by: uncrawled before stale (discovery beats refresh — a page
    we have never seen is worth more than a newer copy of one we have),
    then sitemap ``priority`` descending (absent/invalid priority takes
    the sitemaps.org default 0.5), then URL for determinism; keep the
    top ``per_host_budget``. Output: (host, url, status, priority
    double, crawl_rank long).

    Plan: codegen filter + ONE window per host — the politeness key is
    also the natural partition key, so a 1000-executor run schedules
    every host independently and the budget bounds each partition's
    output. Negative sentinel priorities (< 0, e.g. the -1.0 some
    reconcile outputs carry for "absent") are treated as absent."""
    urgency = F.when(F.col(status_col) == "uncrawled", F.lit(2)) \
               .when(F.col(status_col) == "stale", F.lit(1))
    prio = F.col(priority_col).cast("double")
    prio = F.when(prio.isNull() | (prio < 0), F.lit(0.5)).otherwise(prio)
    w = Window.partitionBy(host_col).orderBy(
        urgency.desc(), prio.desc(), F.col(url_col).asc())
    return (candidates
            .filter(F.col(status_col).isin("uncrawled", "stale"))
            .withColumn("crawl_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("crawl_rank") <= per_host_budget)
            .select(host_col, url_col, status_col,
                    prio.alias(priority_col), "crawl_rank"))


def robots_filter(urls: DataFrame, rules: DataFrame,
                  url_col: str = "url", id_col: str = "doc_id",
                  broadcast_rules: bool = False) -> DataFrame:
    """Apply a :func:`parse_robots` rule table to a URL table — the
    fetch/keep decision a polite crawl pipeline makes before anything
    else touches a page. RFC 9309 §2.2.2 match semantics: among rules
    whose literal prefix matches the URL's path(+query) target, the
    LONGEST prefix wins; an ``allow`` beats a ``disallow`` of the same
    length; no matching rule (or no rules for the host) means allowed.

    Returns one row per input row: ``(id, url, host, target,
    matched_rule, matched_prefix, allowed int)`` with '' for the
    matched columns when nothing matched.

    Plan: host/target parse is a codegen regex projection in the scan
    stage; one equi-join on host (pass ``broadcast_rules=True`` when the
    rule table fits the broadcast budget — hot hosts replicate fine
    because rules-per-host is small); the per-URL argmax is ONE
    map-side-combinable ``max(struct(len, is_allow, prefix, rule))``
    aggregation — no window, no full sort of the match list.
    """
    for c in ("host", "target", "rule", "prefix", "prefix_len"):
        if c in urls.columns and c not in (url_col, id_col):
            raise ValueError(
                f"robots_filter reserves column name {c!r}; rename it "
                "on the URL side first")
    u = F.col(url_col)
    hostport = F.regexp_extract(u, _AUTHORITY_RE, 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    path = F.regexp_extract(u, _PATH_RE, 1)
    query = F.regexp_extract(u, _QUERY_RE, 1)
    target = F.concat(
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(query == "", F.lit(""))
         .otherwise(F.concat(F.lit("?"), query)))
    parsed = (urls.select(id_col, url_col)
              .withColumn("host", host).withColumn("target", target))
    r = F.broadcast(rules) if broadcast_rules else rules
    joined = parsed.join(r, "host", "left")
    hit = (F.col("prefix").isNotNull()
           & F.col("target").startswith(F.col("prefix")))
    best = F.max(F.when(hit, F.struct(
        F.col("prefix_len").alias("l"),
        (F.col("rule") == "allow").cast("int").alias("a"),
        F.col("prefix").alias("p"),
        F.col("rule").alias("r")))).alias("best")
    return (joined
            .groupBy(id_col, url_col, "host", "target")
            .agg(best)
            .withColumn("matched_rule",
                        F.coalesce(F.col("best.r"), F.lit("")))
            .withColumn("matched_prefix",
                        F.coalesce(F.col("best.p"), F.lit("")))
            .withColumn("allowed",
                        (F.col("best").isNull()
                         | (F.col("best.a") == 1)).cast("int"))
            .drop("best"))


def curate_web(urls: DataFrame, robots: DataFrame | None = None,
               blocked: list[str] | tuple[str, ...] = (),
               cap: int | None = None, url_col: str = "url",
               id_col: str = "doc_id") -> DataFrame:
    """The composed URL-curation front with drop-reason provenance —
    every input row comes back with the FIRST stage that rejected it
    (or ``kept``), so a 100 TB run can report exactly where its corpus
    went (the per-status counts are the curation funnel):

    1. ``disallowed`` — robots.txt forbids the fetch
       (:func:`robots_filter` over ``parse_robots(robots)``; skipped
       when ``robots`` is None)
    2. ``duplicate_url`` — not the min-``id_col`` row for its
       normalized URL *among robots-allowed rows* (a disallowed row
       never claims the keeper slot)
    3. ``blocked_domain`` — registered domain on the blocklist
    4. ``over_cap`` — past the per-domain quota among surviving rows,
       ranked by deterministic id hash (RefinedWeb-style anti-spam;
       skipped when ``cap`` is None)

    Unlike chaining url_dedup/filter_blocked_domains/domain_cap (which
    FILTER), this keeps all rows and still spends the same shuffles:
    the robots host join, ONE window-agg on norm_url (a plain min —
    no sort), and ONE window on domain whose sort key floats survivors
    first so ``row_number`` ranks them 1..S without a second shuffle.
    Output: (id, url, norm_url, domain, status)."""
    from .dedup import _hash60
    if robots is not None:
        # normalize ON TOP of the robots decision (same lineage) — a
        # separate normalize branch re-joined on id would cost a second
        # corpus-wide exchange for nothing
        dec = robots_filter(urls.select(id_col, url_col),
                            parse_robots(robots), url_col, id_col,
                            broadcast_rules=True)
        base = normalize_urls(
            dec.select(id_col, url_col, "allowed"), url_col)
    else:
        base = normalize_urls(urls.select(id_col, url_col), url_col) \
            .withColumn("allowed", F.lit(1))
    base = base.select(id_col, url_col, "norm_url", "domain", "allowed")
    wn = Window.partitionBy("norm_url")
    keeper = F.min(F.when(F.col("allowed") == 1, F.col(id_col))).over(wn)
    base = base.withColumn(
        "_keep", ((F.col("allowed") == 1)
                  & (F.col(id_col) == keeper)).cast("int"))
    is_blocked = (F.col("domain").isin(*blocked) if blocked
                  else F.lit(False))
    base = base.withColumn("_blocked", is_blocked.cast("int"))
    surv = (F.col("_keep") == 1) & (F.col("_blocked") == 0)
    if cap is not None:
        h = _hash60(F.col(id_col).cast("string"))
        wd = Window.partitionBy("domain").orderBy(
            surv.cast("int").desc(), h.asc(), F.col(id_col).asc())
        base = base.withColumn("_rank", F.row_number().over(wd))
        over_cap = surv & (F.col("_rank") > cap)
    else:
        over_cap = F.lit(False)
    status = (F.when(F.col("allowed") == 0, F.lit("disallowed"))
              .when(F.col("_keep") == 0, F.lit("duplicate_url"))
              .when(F.col("_blocked") == 1, F.lit("blocked_domain"))
              .when(over_cap, F.lit("over_cap"))
              .otherwise(F.lit("kept")))
    return (base.withColumn("status", status)
            .select(id_col, url_col, "norm_url", "domain", "status"))
