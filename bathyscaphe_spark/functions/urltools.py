"""URL extraction, normalization, and component parsing.

Reimplements (public-knowledge, from observed behavior + published docs):

* URL extraction compatible with ``xurls.Strict()`` as used by the
  reference scheduler (reference: internal/scheduler/scheduler.go:222-239):
  scheme-mandatory matches, trailing punctuation excluded.
* URL normalization compatible with purell flags
  ``FlagsUsuallySafeGreedy | FlagRemoveDirectoryIndex | FlagRemoveFragment |
  FlagRemoveDuplicateSlashes`` (reference: scheduler.go:241-249).  Golden:
  ``https://this-is-sparta.de?url=url-query-param#fragment-23`` →
  ``https://this-is-sparta.de?url=url-query-param`` (scheduler_test.go:51-60).
* Component parsing semantics of Go ``net/url`` (Hostname() strips port).

Normalization and parsing are exposed to Spark as Arrow-batched pandas
UDFs (never per-row Python UDFs); extraction (``findall_urls``) runs
inside the scheduler's Arrow-batch kernel (operators/scheduler.py).
Inside a batch, normalization is a python loop over the batch's strings —
acceptable because it runs worker-side over Arrow batches and the
per-string work is tiny.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# --- extraction ------------------------------------------------------------
# Strict = scheme required.  Character set mirrors xurls path continuation:
# stop at whitespace, quotes, angle brackets and backslash; the final char
# additionally must not be trailing punctuation (xurls "endChar" behavior),
# so `https://google.onion.` matches without the dot and
# `href=\"https://x.onion/p.php?id=1\">` stops before the backslash.
URL_RE = re.compile(
    r"[a-zA-Z][a-zA-Z0-9.+-]*://"  # mandatory scheme
    r"[^\s<>\"'\\`]*"  # body
    r"[^\s<>\"'\\`.,;:!?)\]}*@]"  # last char: no trailing punctuation
)

EXTRACT_RE_SQL = URL_RE.pattern  # same pattern is valid in DuckDB/RE2-ish

_SCHEME_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.+-"
)
_ALPHA = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def findall_urls(s: str) -> list[str]:
    """``URL_RE.findall(s)``, computed by memchr-scanning for ``://``
    and running the regex only ANCHORED at each viable scheme start —
    the regex engine never walks the whole body trying every offset
    (the pattern opens with a character class, so sre has no literal
    prefix to skip on).  ~1.4x on link-dense synthetic bodies, more on
    prose-heavy real pages where ``://`` is sparse.

    Equivalence argument (property-tested vs the regex in
    tests/test_urltools.py): every match contains ``://``; matches are
    non-overlapping and found leftmost-first.  For a given ``://`` the
    leftmost viable start is the first alphabetic char of the maximal
    scheme-char run ending at it, and whether the match succeeds there
    depends only on the tail after ``://`` (the scheme part always
    matches inside the run), so no other start in the run needs trying.
    """
    out: list[str] = []
    pos = 0
    find = s.find
    match = URL_RE.match
    while True:
        i = find("://", pos)
        if i < 0:
            return out
        j = i
        while j > 0 and s[j - 1] in _SCHEME_CHARS:
            j -= 1
        while j < i and s[j] not in _ALPHA:
            j += 1
        if j < i:
            m = match(s, j)
            if m is not None:
                out.append(m.group(0))
                pos = m.end()
                continue
        pos = i + 3


def extract_urls_py(body: str) -> list[str]:
    if not body:
        return []
    return findall_urls(body)


# --- normalization (purell-compatible) -------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_DIR_INDEX_RE = re.compile(r"(^|/)(?:default|index)\.\w{1,4}$")
_DUP_SLASH_RE = re.compile(r"/{2,}")
# RFC 3986 unreserved + sub-delims Go keeps unescaped in paths
_PATH_SAFE = "/$&+,;=:@!'()*-._~"
_QUERY_SAFE = "$&+,;=:@!'()*-._~/?"


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, as purell applies to paths."""
    if not path:
        return path
    output: list[str] = []
    # operate on '/'-separated segments preserving leading slash semantics
    leading = path.startswith("/")
    segments = path.split("/")
    for seg in segments:
        if seg == ".":
            continue
        if seg == "..":
            if output:
                output.pop()
            continue
        output.append(seg)
    # re-add trailing slash if original ended with /. or /..
    result = "/".join(output)
    if path.endswith(("/.", "/..")) and not result.endswith("/"):
        result += "/"
    if leading and not result.startswith("/"):
        result = "/" + result
    return result


def _renorm_escapes(s: str, safe: str) -> str:
    """Uppercase %XX escapes and decode unnecessary ones (purell's
    FlagUppercaseEscapes | FlagDecodeUnnecessaryEscapes |
    FlagEncodeNecessaryEscapes), by decode-then-requote with a Go-like
    safe set."""
    if "%" not in s:
        return s
    try:
        return quote(unquote(s), safe=safe)
    except Exception:
        return s


def normalize_url_py(raw: str) -> str | None:
    """purell.NormalizeURLString with FlagsUsuallySafeGreedy |
    FlagRemoveDirectoryIndex | FlagRemoveFragment |
    FlagRemoveDuplicateSlashes.  Returns None when unparseable (the
    reference drops such URLs: scheduler.go:229-236)."""
    if raw is None:
        return None
    try:
        parts = urlsplit(raw)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    netloc = parts.netloc.lower()
    path = parts.path
    query = parts.query

    # FlagRemoveDefaultPort
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        if port and _DEFAULT_PORTS.get(scheme) == port:
            netloc = host
    # FlagRemoveDirectoryIndex
    path = _DIR_INDEX_RE.sub(r"\1", path)
    # FlagRemoveDotSegments
    path = _remove_dot_segments(path)
    # FlagRemoveFragment: drop fragment entirely
    # FlagRemoveDuplicateSlashes
    path = _DUP_SLASH_RE.sub("/", path)
    # FlagRemoveTrailingSlash (greedy variant: strip one trailing slash)
    if path.endswith("/"):
        path = path[:-1]
    elif not path and netloc.endswith("/"):
        netloc = netloc[:-1]
    # escape renormalization
    path = _renorm_escapes(path, _PATH_SAFE)
    query = _renorm_escapes(query, _QUERY_SAFE)
    # FlagRemoveEmptyQuerySeparator is implicit: urlunsplit omits '?' when
    # query == ''
    return urlunsplit((scheme, netloc, path, query, ""))


@pandas_udf(StringType())
def normalize_url(s: pd.Series) -> pd.Series:
    return s.map(normalize_url_py)


# --- component parsing (Go net/url semantics) ------------------------------

_HOSTPORT_RE = re.compile(r":\d*$")


def url_host_py(raw: str) -> str:
    """Go's u.Hostname(): host without port, lowercased netloc is NOT
    implied (Parse keeps case; our normalize already lowercased)."""
    try:
        netloc = urlsplit(raw).netloc
    except ValueError:
        return ""
    # strip userinfo then port
    host = netloc.rpartition("@")[2]
    if host.startswith("["):  # ipv6
        return host[1 : host.find("]")] if "]" in host else host
    return _HOSTPORT_RE.sub("", host)


def url_parts_py(raw: str) -> tuple[str, str, str, str]:
    """(scheme, hostname-no-port, path, query) per Go net/url.Parse."""
    try:
        p = urlsplit(raw)
    except ValueError:
        return ("", "", "", "")
    return (p.scheme, url_host_py(raw), p.path, p.query)


def url_host_port_py(raw: str) -> str:
    """Go's u.Host: netloc with userinfo stripped but the PORT KEPT —
    the local sink's path segment uses this, not Hostname()
    (local.go: b.WriteString(u.Host))."""
    try:
        netloc = urlsplit(raw).netloc
    except ValueError:
        return ""
    return netloc.rpartition("@")[2]


@pandas_udf(StringType())
def url_host(s: pd.Series) -> pd.Series:
    return s.map(lambda v: url_host_py(v) if v is not None else None)


@pandas_udf(StringType())
def url_host_port(s: pd.Series) -> pd.Series:
    return s.map(lambda v: url_host_port_py(v) if v is not None else None)


@pandas_udf(StringType())
def url_scheme(s: pd.Series) -> pd.Series:
    return s.map(lambda v: urlsplit(v).scheme if v is not None else None)


@pandas_udf(StringType())
def url_path(s: pd.Series) -> pd.Series:
    return s.map(lambda v: urlsplit(v).path if v is not None else None)


@pandas_udf(StringType())
def url_request_uri(s: pd.Series) -> pd.Series:
    """Go's u.RequestURI(): path (or '/') plus '?query' when present."""

    def _req(v: str) -> str:
        p = urlsplit(v)
        uri = p.path or "/"
        if p.query:
            uri += "?" + p.query
        return uri

    return s.map(lambda v: _req(v) if v is not None else None)


def surt_host_col(url):
    """The host component of the SURT key alone (reversed, comma-joined,
    lowercased) — the probe prefix for CDX host/domain match scopes."""
    from pyspark.sql import functions as F

    host = F.lower(F.parse_url(url, F.lit("HOST")))
    return F.concat_ws(",", F.reverse(F.split(host, r"\.")))


def surt_col(url):
    """SURT key (Sort-friendly URI Reordering Transform — the canonical
    key of web-archive CDX indexes, heritrix/pywb style, simplified and
    documented): host split on '.' REVERSED and comma-joined, then ')',
    then the path (or '/'), then '?' + the '&'-sorted query when one is
    present; the whole key lowercased.  Scheme, userinfo, and fragment
    are dropped — apply to X2-normalized urls.

    Pure column expressions (parse_url/split/reverse/array_sort —
    whole-stage codegen, no UDF): ``com,example,www)/path?a=1&b=2``
    sorts all of a registrable domain contiguously, which makes SURT
    the natural range-partitioning / bucketing key for a 100 TB URL
    table (one domain = one contiguous key range).
    """
    from pyspark.sql import functions as F

    host = F.lower(F.parse_url(url, F.lit("HOST")))
    rev_host = F.concat_ws(",", F.reverse(F.split(host, r"\.")))
    path = F.parse_url(url, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    q = F.parse_url(url, F.lit("QUERY"))
    qpart = F.when(
        q.isNotNull() & (q != ""),
        F.concat(F.lit("?"), F.concat_ws("&", F.array_sort(F.split(q, "&")))),
    ).otherwise(F.lit(""))
    return F.lower(F.concat(rev_host, F.lit(")"), path, qpart))


# --- URL-level quality filtering (training-data pipeline) ------------------

# tiny fixed list standing in for the category blocklists (UT1-style)
# large-scale pipelines apply at the URL stage; the mechanism — substring
# category match — is what matters, mirrored verbatim in the oracle
URL_BLOCK_WORDS = ("casino", "poker", "porn", "xxx", "viagra")


def url_quality_cols(url) -> dict:
    """FineWeb/CCNet-style URL-quality signals as pure codegen columns
    (public method: URL filtering stage of web-corpus pipelines — block
    word match, digit-heavy host, subdomain depth, parameter explosion,
    URL length).  All signals integer/boolean so the keep rule is exact
    cross-engine arithmetic; host parsing is one regexp so the DuckDB
    oracle can mirror it verbatim (no parse_url dialect drift)."""
    from pyspark.sql import functions as F

    host = F.regexp_extract(url, r"^[a-z0-9+.-]+://([^/?#]*)", 1)
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    low = F.lower(url)
    blocked = F.lit(False)
    for w in URL_BLOCK_WORDS:
        blocked = blocked | low.contains(w)
    return {
        "host": host,
        "host_len": F.length(host).cast("long"),
        "n_digits_host": (
            F.length(host) - F.length(F.regexp_replace(host, r"[0-9]", ""))
        ).cast("long"),
        "n_subdomains": F.size(F.split(host, r"\.")).cast("long") - 1,
        "n_params": F.size(
            F.filter(F.split(qs, "&"), lambda x: x != "")
        ).cast("long"),
        "url_len": F.length(url).cast("long"),
        "blocked_word": blocked,
    }


def url_quality_keep(s: dict):
    """Keep rule over :func:`url_quality_cols` signals — integer
    cross-multiplications only: digit-heavy hosts (>1/3 digits),
    blocklisted words, deep subdomain chains, parameter explosions and
    over-long URLs are dropped."""
    return (
        ~s["blocked_word"]
        & (3 * s["n_digits_host"] <= s["host_len"])
        & (s["n_subdomains"] <= 3)
        & (s["n_params"] <= 8)
        & (s["url_len"] <= 200)
    )


# --- tracking-parameter stripping -------------------------------------------

# The public click-tracking parameters every crawl/dedup pipeline
# strips before URL canonicalization (utm_* is the Google Analytics
# convention; the rest are the big ad/referral platforms' click ids).
# Pattern is Java∩RE2-safe so the oracle runs it verbatim.
TRACKING_PARAM_RE = (
    "^(utm_[a-z0-9_]+|fbclid|gclid|dclid|msclkid|mc_eid|igshid|ref|ref_src)="
)


def strip_tracking_col(url):
    """URL with tracking query parameters removed — pure column
    expressions: split the query on '&', drop params matching
    TRACKING_PARAM_RE, rejoin (original order kept; '?' dropped when
    nothing survives; fragment untouched because the crawl normalizer
    already stripped it upstream).  Dedup keys built from cleaned URLs
    collapse republished links that differ only in click-tracking."""
    from pyspark.sql import functions as F

    base = F.substring_index(url, "?", 1)
    qs = F.when(
        url.contains("?"), F.substring(url, F.length(base) + 2, 1_000_000)
    ).otherwise(F.lit(None))
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    return F.when(qs.isNull() | (F.size(kept) == 0), base).otherwise(
        F.concat(base, F.lit("?"), F.array_join(kept, "&"))
    )


# --------------------------------------------------------------------------
# registered domain (public-suffix longest-match, PSL-lite)
# --------------------------------------------------------------------------

# A deliberately small slice of the Public Suffix List (publicsuffix.org,
# public domain-ish MPL data).  The ALGORITHM is the operator — longest
# matching suffix wins, unknown TLDs default to one label — and at
# deployment this tuple is swapped for the full PSL snapshot (a ~10k-row
# broadcast table, same plan).  Multi-label and private-registry entries
# are included so the longest-match path is actually exercised.
PUBLIC_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "ai", "co", "de", "fr", "jp", "uk", "au", "br", "cn", "ru",
    "onion",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp",
    "com.br", "net.br",
    "com.cn", "org.cn",
    "github.io", "blogspot.com", "s3.amazonaws.com",
)


def registered_domain_cols(hosts, host_col: str = "host", suffixes=PUBLIC_SUFFIXES):
    """eTLD+1 per host — the key per-DOMAIN politeness and host-collapse
    group by (one site, many subdomains).

    Plan: each host explodes into its last-1..4-label candidate
    suffixes tagged with label count k, equi-joins the broadcast
    suffix table, and an argmax on k per host picks the LONGEST match
    (the PSL rule).  Hosts matching no suffix fall back to the PSL
    default rule (the last label is the public suffix).  The suffix
    table is tiny → broadcast; one shuffle for the per-host argmax.

    Output: (host, public_suffix, registered_domain); hosts that ARE a
    bare public suffix get registered_domain NULL (nothing registered).
    """
    from pyspark.sql import functions as F

    spark = hosts.sparkSession
    sdf = F.broadcast(
        spark.createDataFrame(
            [(s, s.count(".") + 1) for s in suffixes], "sfx string, k int"
        )
    )
    labs = hosts.select(host_col, F.split(F.col(host_col), r"\.").alias("ls"))
    cand = labs.select(
        host_col,
        "ls",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.least(F.size("ls"), F.lit(4))),
                    lambda k: F.struct(
                        k.alias("k"),
                        F.concat_ws(
                            ".", F.slice("ls", F.size("ls") - k + 1, k)
                        ).alias("sfx"),
                    ),
                ),
                lambda c: c["k"] <= F.size("ls"),
            )
        ).alias("c"),
    ).select(host_col, "ls", F.col("c.k").alias("k"), F.col("c.sfx").alias("sfx"))
    hit = cand.join(sdf, ["sfx", "k"]).groupBy(host_col).agg(
        F.max(F.struct("k", "sfx")).alias("best"),
        F.first("ls").alias("ls"),
    )
    matched = hit.select(
        host_col,
        F.col("best.sfx").alias("public_suffix"),
        F.when(
            F.size("ls") > F.col("best.k"),
            F.concat_ws(
                ".",
                F.element_at("ls", F.size("ls") - F.col("best.k")),
                F.col("best.sfx"),
            ),
        ).alias("registered_domain"),
    )
    unmatched = (
        labs.join(matched.select(host_col), host_col, "left_anti")
        .select(
            host_col,
            F.element_at("ls", F.size("ls")).alias("public_suffix"),
            F.when(
                F.size("ls") > 1,
                F.concat_ws(
                    ".",
                    F.element_at("ls", F.size("ls") - 1),
                    F.element_at("ls", F.size("ls")),
                ),
            ).alias("registered_domain"),
        )
    )
    return matched.unionByName(unmatched)


# --------------------------------------------------------------------------
# DUST parameter mining (Different URLs, Same Text — Bar-Yossef et al.)
# --------------------------------------------------------------------------


def dust_param_evidence(pages, url_col: str = "url", hash_col: str = "content_hash"):
    """Mine which query parameters are content-irrelevant from
    duplicate evidence ("Do Not Crawl in the DUST", Bar-Yossef et al.
    2007, public): a parameter k is removable when URLs that differ
    ONLY in k consistently carry identical content, and never differing
    content.

    For every (url, param k): the residual key is the URL with k
    removed and the surviving params re-sorted (order-canonical).
    Groups of ≥2 URLs sharing a residual key are the evidence: all
    content hashes equal → k-removal collapses them (support); any
    differing hash → k is load-bearing (violation).  Session ids,
    click-tracking refs, and cache busters light up as
    (evidence > 0, violations = 0); pagination params accumulate
    violations and survive canonicalization.

    Scale shape: params explode per URL (bounded by params-per-URL),
    one groupBy (param, residual) with map-side combine, one groupBy
    (param) rollup — no joins, no windows.

    Output: (param, evidence_groups, collapsible_urls,
    violating_groups, removable).
    """
    from pyspark.sql import functions as F

    split_q = F.split(F.col(url_col), r"\?", 2)
    base = F.element_at(split_q, 1)
    params = F.filter(
        F.split(F.coalesce(F.element_at(split_q, 2), F.lit("")), "&"),
        lambda p: p != "",
    )
    per_param = (
        pages.select(
            F.col(hash_col).alias("h"),
            base.alias("base"),
            params.alias("ps"),
        )
        .select(
            "h", "base", "ps", F.explode("ps").alias("p")
        )
        .select(
            F.element_at(F.split(F.col("p"), "=", 2), 1).alias("param"),
            F.concat(
                F.col("base"),
                F.lit("?"),
                F.concat_ws(
                    "&",
                    F.sort_array(F.filter("ps", lambda q: q != F.col("p"))),
                ),
            ).alias("residual"),
            "h",
        )
    )
    groups = per_param.groupBy("param", "residual").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("h").alias("n_hashes"),
    )
    return (
        groups.where(F.col("n_urls") >= 2)
        .groupBy("param")
        .agg(
            F.sum(F.when(F.col("n_hashes") == 1, 1).otherwise(0)).alias(
                "evidence_groups"
            ),
            F.sum(
                F.when(F.col("n_hashes") == 1, F.col("n_urls") - 1).otherwise(0)
            ).alias("collapsible_urls"),
            F.sum(F.when(F.col("n_hashes") > 1, 1).otherwise(0)).alias(
                "violating_groups"
            ),
        )
        .select(
            "param", "evidence_groups", "collapsible_urls", "violating_groups",
            (
                (F.col("evidence_groups") > 0) & (F.col("violating_groups") == 0)
            ).alias("removable"),
        )
    )


def dust_apply(
    pages, removable, url_col: str = "url"
) -> "DataFrame":  # noqa: F821 — DataFrame imported lazily below
    """Apply MINED DUST rules: rewrite every URL with the learned
    content-irrelevant query parameters removed — the second half of
    the Bar-Yossef et al. loop whose first half is
    ``dust_param_evidence`` (mine) — so frontier/seen-set keys collapse
    session-id and cache-buster variants the static
    ``strip_tracking_col`` list never heard of.

    ``removable``: a DataFrame with a ``param`` column (e.g.
    ``dust_param_evidence(...).where("removable")``) — per-site tiny,
    always the broadcast side.

    Same edge conventions as ``strip_tracking_col``: survivor order
    kept, '?' dropped when nothing survives, no-query URLs unchanged.

    Scale shape: posexplode(params) → broadcast LEFT ANTI join on the
    param key → groupBy(url) ordered reassembly — one shuffle keyed on
    the url, no windows, no UDFs, no driver-side collect of the rule
    set.  URLs with no query string bypass the explode entirely.
    """
    from pyspark.sql import DataFrame, functions as F  # noqa: F811

    url = F.col(url_col)
    base = F.substring_index(url, "?", 1)
    qs = F.when(
        url.contains("?"), F.substring(url, F.length(base) + 2, 1_000_000)
    ).otherwise(F.lit(None))
    params = F.filter(F.split(qs, "&"), lambda p: p != "")
    # one rewrite per DISTINCT url: repeated pages rows must not double
    # the reassembled params, and the final join stays 1:1
    with_q = (
        pages.select(url.alias("_u"), params.alias("_ps"))
        .where(qs.isNotNull())
        .dropDuplicates(["_u"])
    )
    kept = (
        with_q.select("_u", F.posexplode("_ps").alias("_pos", "_p"))
        .withColumn(
            "_k", F.element_at(F.split(F.col("_p"), "=", 2), 1)
        )
        .join(
            F.broadcast(removable.select(F.col("param").alias("_k"))),
            "_k",
            "left_anti",
        )
        .groupBy("_u")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_p"))
                    ),
                    lambda s: s["_p"],
                ),
                "&",
            ).alias("_kept")
        )
    )
    canon_q = (
        with_q.select("_u")
        .join(kept, "_u", "left")
        .select(
            "_u",
            F.when(
                F.col("_kept").isNull() | (F.col("_kept") == ""),
                F.substring_index(F.col("_u"), "?", 1),
            )
            .otherwise(
                F.concat(
                    F.substring_index(F.col("_u"), "?", 1),
                    F.lit("?"),
                    F.col("_kept"),
                )
            )
            .alias("_canon"),
        )
    )
    return (
        pages.join(canon_q, pages[url_col] == canon_q["_u"], "left")
        .select(
            *pages.columns,
            F.coalesce(F.col("_canon"), url).alias("canonical_url"),
        )
    )


# URL scheme://host/path splitters shared by template mining (strict,
# Java∩RE2-safe so the DuckDB oracle runs the literal same patterns;
# the crawl pipeline itself uses parse_url — these exist for operators
# whose whole computation must be oracle-replicable).
URL_HOST_RE = "^[a-z][a-z0-9+.-]*://([^/?#]+)"
URL_PATH_RE = "^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)"


def path_template_stats(
    pages,
    url_col: str = "url",
    hash_col: str = "content_hash",
    min_urls: int = 8,
    diversity_pm: int = 250,
):
    """Mine low-content-diversity URL path templates — the
    infinite-URL-space complement to DUST param mining
    (``dust_param_evidence`` learns junk QUERY params; this learns
    junk PATH shapes): collapse every digit run in the path to ``N``
    and group by (host, template).  A template spanning ≥ ``min_urls``
    distinct URLs whose distinct content count stays at or under
    ``diversity_pm``‰ of its URL count is a generated space — calendar
    pages, session-id paths, print-view mirrors — that a crawler walks
    forever for no new content (the public URL-pattern-learning
    literature: Koppula et al. 2010).  Static ``trap_filter_col``
    catches structural shapes; this learns per-site evidence the
    static rules can't know.

    Scale shape: one groupBy (host, template) with two count-distincts
    (Catalyst expands to a two-level aggregate, map-side partials both
    levels) — no joins, no windows; templates are bounded by sites'
    path grammars, never corpus size.

    Output: (host, template, n_urls, n_content, div_pm, trap).
    """
    from pyspark.sql import functions as F

    url = F.col(url_col)
    host = F.regexp_extract(url, URL_HOST_RE, 1)
    path = F.regexp_extract(url, URL_PATH_RE, 1)
    template = F.regexp_replace(path, "[0-9]+", "N")
    agg = (
        pages.select(
            host.alias("host"),
            template.alias("template"),
            url.alias("_u"),
            F.col(hash_col).alias("_h"),
        )
        .groupBy("host", "template")
        .agg(
            F.countDistinct("_u").alias("n_urls"),
            F.countDistinct("_h").alias("n_content"),
        )
    )
    return agg.select(
        "host",
        "template",
        "n_urls",
        "n_content",
        F.expr("(n_content * 1000) DIV n_urls").cast("long").alias("div_pm"),
        (
            (F.col("n_urls") >= min_urls)
            & (F.col("n_content") * 1000 <= diversity_pm * F.col("n_urls"))
        ).alias("trap"),
    )


def path_template_filter(cand, templates, url_col: str = "url"):
    """Drop frontier candidates whose (host, digit-collapsed path)
    matches a mined trap template — a broadcast anti-join (the trap
    table is per-site grammar, thousands of rows at web scale, never
    corpus-sized)."""
    from pyspark.sql import functions as F

    url = F.col(url_col)
    traps = templates.where("trap").select("host", "template")
    keyed = cand.withColumn(
        "_tpl_host", F.regexp_extract(url, URL_HOST_RE, 1)
    ).withColumn(
        "_tpl",
        F.regexp_replace(F.regexp_extract(url, URL_PATH_RE, 1), "[0-9]+", "N"),
    )
    kept = keyed.join(
        F.broadcast(traps),
        (keyed["_tpl_host"] == traps["host"])
        & (keyed["_tpl"] == traps["template"]),
        "left_anti",
    )
    return kept.drop("_tpl_host", "_tpl")


# Confusable-skeleton mapping (UTS #39 idea, bounded to the high-value
# Cyrillic/Greek lookalikes of lowercase Latin — the pairs IDN spoofs
# actually use; extend the two strings in lockstep to grow coverage).
# translate() is positional char-for-char in BOTH engines, so the
# oracle runs the literal same pair of strings.
CONFUSABLE_FROM = "аеорсухіѕјԁโασνο"
CONFUSABLE_TO = "aeopcyxisjdlaovo"


def skeleton_col(host):
    """UTS #39-style confusable skeleton of a hostname: lowercase, then
    fold known lookalike codepoints onto their Latin targets — two
    hosts sharing a skeleton while differing as strings are an IDN
    spoof pair (paypal.com vs pаypal.com)."""
    from pyspark.sql import functions as F

    return F.translate(
        F.lower(host), CONFUSABLE_FROM, CONFUSABLE_TO
    )


def spoof_pairs(hosts, host_col: str = "host"):
    """Detect IDN homoglyph spoof candidates: group hosts by confusable
    skeleton, emit (skeleton, n_variants, variants) for skeletons with
    ≥ 2 DISTINCT spellings — the crawl-side defense against
    lookalike-domain phishing (public UTS #39 skeleton method; script
    mixing inside TOKENS is ``script_mix_cols``' job, this catches
    whole-label substitution where every char is one script).

    Skeletons are host-cardinality, the blacklister's scale — but one
    spoof campaign can mint unbounded variants of a single skeleton, so
    the 16-smallest spelling sample runs through the salted-tournament
    aggregate (operators/topk.py smallest_k_by_key): merge buffers are
    hard-bounded and the leaf buffer is divided across fanout^2 salt
    cells — never a whole-skeleton collect_list (the tournament's own
    first groupBy deduplicates (skeleton, host), so no pre-distinct
    pass is needed).  Variant lists sort for determinism; n_variants
    stays exact via the tournament's distinct-value counts.
    """
    from pyspark.sql import functions as F

    from ..operators.topk import smallest_k_by_key

    sk = skeleton_col(F.col(host_col))
    dv = hosts.select(sk.alias("skeleton"), F.col(host_col).alias("h"))
    top = smallest_k_by_key(dv, ["skeleton"], "h", 16)
    return (
        top.select(
            "skeleton",
            F.col("n_distinct").alias("n_variants"),
            F.transform(F.col("smallest"), lambda s: s["val"]).alias(
                "variants"
            ),
        )
        .where(F.col("n_variants") >= 2)
    )


# --- RFC 3986 §5.2 relative-reference resolution ----------------------------

def _rm_dots(path, passes: int = 4):
    """RFC 3986 §5.2.4 remove_dot_segments as a bounded regexp unroll
    (pure codegen): '/./' collapses, then up to ``passes`` rounds of
    '/segment/../' removal — the segment alternation enumerates
    "anything but exactly '..'" because RE2 (the oracle's engine) has
    no lookahead.  Bounded nesting is the documented contract (deeper
    ../ chains than ``passes`` are crawl-trap shapes the trap filter
    rejects anyway)."""
    from pyspark.sql import functions as F

    seg = r"(?:[^/]|\.[^/.]|[^/.][^/]|[^/][^/][^/]+)"
    p = path
    for _ in range(2):
        p = F.regexp_replace(p, r"/\./", "/")
    p = F.regexp_replace(p, r"/\.$", "/")
    for _ in range(passes):
        p = F.regexp_replace(p, f"/{seg}/\\.\\./", "/")
        p = F.regexp_replace(p, f"/{seg}/\\.\\.$", "/")
    for _ in range(passes):
        p = F.regexp_replace(p, r"^/\.\./", "/")
    p = F.regexp_replace(p, r"^/\.\.$", "/")
    return p


def resolve_reference_col(base, ref):
    """RFC 3986 §5.2 reference resolution — the step between anchor
    extraction and normalization a real crawler cannot skip: pages
    link with ``/abs/path``, ``rel/path``, ``../up``, ``//host/x``,
    ``?q`` and ``#frag`` references, and every one must resolve
    against the page URL before hashing/dedup.  (The reference's
    xurls.Strict extraction only ever yields absolute URLs —
    /root/reference/internal/crawler/crawler.go extracts from raw
    bytes — so this is a north-rule addition, not a parity surface.)

    ``base`` must be an absolute http(s) URL (the crawl frontier
    guarantees it).  Pure codegen CASE over the grammar: scheme'd refs
    pass through, ``//`` takes the base scheme, ``/`` roots at the
    authority, ``?``/``#``/empty edit the base, relative paths merge
    with the base directory; dot segments collapse via the bounded
    §5.2.4 unroll.  No UDFs — at extraction scale this is a map-only
    projection fused into the candidate kernel's output side.
    """
    from pyspark.sql import functions as F

    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    auth = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    bpath = F.regexp_extract(
        base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    bquery = F.regexp_extract(base, r"(\?[^#]*)", 1)
    root = F.concat(scheme, F.lit("://"), auth)

    rpath = F.regexp_extract(ref, r"^([^?#]*)", 1)
    rtail = F.regexp_extract(ref, r"^[^?#]*([?#].*)", 1)

    bdir = F.when(bpath == "", F.lit("/")).otherwise(
        F.regexp_replace(bpath, r"[^/]*$", "")
    )
    merged = F.concat(bdir, rpath)

    return (
        F.when(ref.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*:"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .when(
            ref.startswith("/"),
            F.concat(root, _rm_dots(rpath), rtail),
        )
        .when(ref == "", F.concat(root, bpath, bquery))
        .when(ref.startswith("?"), F.concat(root, bpath, ref))
        .when(ref.startswith("#"), F.concat(root, bpath, bquery, ref))
        .otherwise(F.concat(root, _rm_dots(merged), rtail))
    )
