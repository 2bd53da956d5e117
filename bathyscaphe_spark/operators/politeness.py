"""Politeness budget, priority ranking, and skew-aware partitioning.

The reference scales by adding competing queue consumers with no key
partitioning (README.md:35-44); politeness is implicit in Tor latency.
The north-star design makes both explicit:

* O1 priority queue: a Window rank over (host) ordered by
  (priority desc, depth asc, discovered_ts asc, url) — depth+recency
  priority with a deterministic total order, truncated to the per-host
  fetch budget.  This is the politeness guarantee: at most
  ``per_host_budget`` fetches per host per round.
* O2 skew handling: hosts are Zipf-distributed; a mega-host would pin one
  task during the fetch stage.  We compute per-host frontier counts (tiny
  agg), pick hosts above ``skew_threshold``, and salt ONLY the fetch-stage
  partitioning for those hosts (url_hash % skew_salt_buckets).  The budget
  rank runs BEFORE salting on the unsalted host grouping, so politeness is
  never broken by the salt — mirroring SURVEY.md §2.6 O2's discipline.

Scale notes: the window shuffles once on host; the salted repartition
reuses the ranked output.  With AQE on, skewed post-join partitions are
additionally split at runtime, but salting keeps the *fetch* stage honest
even when a single host exceeds one task's capacity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig


_ORDER = lambda: [  # noqa: E731 — shared deterministic priority order
    F.desc("priority"),
    F.asc("depth"),
    F.asc("discovered_ts"),
    F.asc("url"),
]


def rank_frontier(
    frontier: DataFrame,
    config: CrawlConfig,
    host_budgets: DataFrame | None = None,
    two_phase: bool = True,
) -> DataFrame:
    """O1: per-host priority rank + budget truncation, skew-proof.

    Two-phase salted rank: phase 1 ranks within (host, url_hash % B) and
    keeps the per-host budget per salt bucket — a mega-host's frontier is
    processed by B tasks, never one.  Phase 2 re-ranks the ≤ B×budget
    survivors per host and applies the true budget.  Identical output to
    a single global per-host rank (any row in the true top-K is in its
    bucket's top-K), deterministic at any parallelism.

    ``host_budgets`` (host, budget) — e.g. derived from robots
    Crawl-delay via ``robots.budgets_from_robots`` — LOWERS the budget
    for listed hosts (never raises above the config cap); broadcast
    joined, per-host tiny.

    Input columns: url, url_hash, host, depth, priority, discovered_ts.
    Output: the scheduled subset, with ``fetch_rank`` retained for
    lineage/metrics.

    ``two_phase=False`` skips the salted pre-rank and runs the single
    per-host window directly — OUTPUT-IDENTICAL (phase 1 only discards
    rows outside their bucket's top-cap, all of which phase 2 would cut
    anyway), one exchange and one sort cheaper.  Callers that KNOW the
    frontier delta is small (``run_round`` reads the row count from the
    parquet footers) pick it below ``config.leftover_split_threshold``,
    where no host can exceed a single task's capacity; the salted
    two-phase stays the default for unbounded frontiers.
    """
    cap = F.lit(config.per_host_budget)
    if host_budgets is not None:
        bdg = F.broadcast(
            host_budgets.select("host", F.col("budget").alias("_host_budget"))
        )
        frontier = frontier.join(bdg, "host", "left")
        cap = F.least(cap, F.coalesce(F.col("_host_budget"), cap))
    pre = frontier
    if two_phase:
        b = max(1, config.skew_salt_buckets)
        salt = F.pmod(F.col("url_hash"), F.lit(b))
        w1 = Window.partitionBy("host", salt).orderBy(*_ORDER())
        pre = (
            frontier.withColumn("_pre_rank", F.row_number().over(w1))
            .where(F.col("_pre_rank") <= cap)
            .drop("_pre_rank")
        )
    w2 = Window.partitionBy("host").orderBy(*_ORDER())
    out = (
        pre.withColumn("fetch_rank", F.row_number().over(w2))
        .where(F.col("fetch_rank") <= cap)
    )
    return out.drop("_host_budget") if host_budgets is not None else out


def rank_frontier_split(
    frontier: DataFrame,
    config: CrawlConfig,
    host_budgets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """``rank_frontier`` that ALSO returns the budget-cut rows (the
    defer-never-drop politeness leftovers) without any anti-join: both
    sets are filters over the same two window passes, so the leftover
    costs zero extra shuffles (the r1-recorded scaling path paid a
    frontier-sized ``left_anti`` join per round for it).

    Returns (scheduled, leftover, caches).  ``caches`` are the persisted
    intermediates both branches share — the caller unpersists them after
    its writes.  Leftover rows carry the original frontier columns.
    """
    cols = frontier.columns
    cap = F.lit(config.per_host_budget)
    if host_budgets is not None:
        bdg = F.broadcast(
            host_budgets.select("host", F.col("budget").alias("_host_budget"))
        )
        frontier = frontier.join(bdg, "host", "left")
        cap = F.least(cap, F.coalesce(F.col("_host_budget"), cap))
    b = max(1, config.skew_salt_buckets)
    salt = F.pmod(F.col("url_hash"), F.lit(b))
    w1 = Window.partitionBy("host", salt).orderBy(*_ORDER())
    pre = frontier.withColumn("_pre_rank", F.row_number().over(w1)).persist()
    w2 = Window.partitionBy("host").orderBy(*_ORDER())
    ranked = (
        pre.where(F.col("_pre_rank") <= cap)
        .drop("_pre_rank")
        .withColumn("fetch_rank", F.row_number().over(w2))
        .persist()
    )
    scheduled = ranked.where(F.col("fetch_rank") <= cap)
    if host_budgets is not None:
        scheduled = scheduled.drop("_host_budget")
    leftover = pre.where(F.col("_pre_rank") > cap).select(*cols).unionByName(
        ranked.where(F.col("fetch_rank") > cap).select(*cols)
    )
    return scheduled, leftover, [pre, ranked]


def global_fetch_cap(ranked: DataFrame, budget: int) -> DataFrame:
    """Cross-host top-K over the shared deterministic priority order.

    Applied AFTER the per-host budget rank, so politeness is never
    loosened — the cap only shrinks the scheduled set.  ``orderBy +
    limit`` compiles to TakeOrderedAndProject (per-partition top-K,
    merged at the driver): no global sort is materialized, and the
    total order makes the cut bit-identical at any parallelism.
    Budgets above ``spark.sql.execution.topKSortFallbackThreshold``
    (engine default 1e6, session.py) use a spillable global sort
    instead — TakeOrdered's per-task k-entry heap must not scale with
    a 10^9-row budget."""
    return ranked.orderBy(*_ORDER()).limit(budget)


def salted_repartition(
    scheduled: DataFrame, config: CrawlConfig, num_partitions: int | None = None
) -> DataFrame:
    """O2: repartition the scheduled set by (host, salt) where salt is
    nonzero only for skewed hosts.

    The skewed-host set is computed with one small aggregation and folded
    into the plan as a broadcast join (host dim is small after the
    budget truncation; the agg is partial-combined map-side).
    """
    counts = scheduled.groupBy("host").agg(F.count(F.lit(1)).alias("_host_n"))
    skewed = counts.where(F.col("_host_n") > config.skew_threshold).select(
        "host", F.lit(True).alias("_skewed")
    )
    out = scheduled.join(F.broadcast(skewed), "host", "left").withColumn(
        "salt",
        F.when(
            F.col("_skewed").isNotNull(),
            F.pmod(F.col("url_hash"), F.lit(config.skew_salt_buckets)),
        ).otherwise(F.lit(0)),
    ).drop("_skewed")
    if num_partitions:
        return out.repartition(num_partitions, F.col("host"), F.col("salt"))
    return out.repartition(F.col("host"), F.col("salt"))


def drain_forecast(
    frontier: DataFrame,
    config: CrawlConfig,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Frontier drain forecast: for each future round k, how many hosts
    are still active, how many URLs the politeness budgets let the
    cluster fetch, and how much backlog remains afterward — the
    capacity-planning view of O1 ("when does this frontier drain, and
    what is the per-round fetch volume the politeness caps actually
    allow?").

    Window-free by design: round k fetches ``least(b, n - (k-1)·b)``
    URLs from a host with n queued and budget b, so the whole forecast
    falls out of ONE per-host count — no per-URL rank, no per-host
    window that a mega-host could skew.  Each host then explodes into
    its ceil(n/b) active rounds (bounded: a host is one row per round
    it is still draining, not one row per URL) and one groupBy(round)
    folds the fleet view.  Exact integers throughout.

    ``host_budgets`` lowers budgets exactly like ``rank_frontier``
    (robots Crawl-delay overlay; never raises above the config cap).

    Output: (round, hosts_active, urls_fetched, backlog_after), one row
    per round until the slowest host drains.
    """
    counts = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
    cap = F.lit(config.per_host_budget)
    if host_budgets is not None:
        bdg = F.broadcast(
            host_budgets.select("host", F.col("budget").alias("_host_budget"))
        )
        counts = counts.join(bdg, "host", "left")
        cap = F.least(cap, F.coalesce(F.col("_host_budget"), cap))
    per_host = counts.select(
        "host", "n", cap.cast("long").alias("b")
    ).select("host", "n", "b", F.expr("(n + b - 1) div b").alias("rounds"))
    per_round = per_host.select(
        "n", "b",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("rounds"))).alias("round"),
    )
    return (
        per_round.groupBy("round")
        .agg(
            F.count(F.lit(1)).alias("hosts_active"),
            F.sum(F.expr("least(b, n - (round - 1) * b)")).alias("urls_fetched"),
            F.sum(F.expr("greatest(0, n - round * b)")).alias("backlog_after"),
        )
    )


def allocate_budget(
    host_stats: DataFrame,
    total_budget: int,
    max_per_host: int | None = None,
) -> DataFrame:
    """Apportion a GLOBAL per-round fetch budget across hosts
    proportional to an integer weight — largest-remainder (Hamilton)
    apportionment, the exact-total division every large crawler does
    when a round can afford B fetches and hosts deserve shares by
    pagerank mass / pending backlog / freshness debt.

    ``global_fetch_cap`` answers "which ranked URLs survive a global
    cap"; this answers the planning question one level up: "how many
    fetches does each host GET" — its quotas feed ``rank_frontier``'s
    per-host truncation, replacing the flat ``per_host_budget`` with a
    weight-proportional one.

    ``host_stats``: one row per host — (host, pending:long ≥ 0,
    weight:long ≥ 0).  Hosts with zero weight or zero pending are
    excluded from apportionment and emit quota 0.

    Exactness: quotas are computed in DECIMAL(38,0) — no floats, no
    long overflow at B·w ≈ 10^21 — as base = ⌊B·w/W⌋ plus +1 for the
    B − Σbase largest remainders (ties broken by host asc), so
    Σ uncapped == B precisely.  ``quota`` then clamps to pending and
    ``max_per_host``; the clamp's shortfall is visible as
    uncapped − quota (callers re-run apportionment on the residue if
    they want water-filling — kept single-pass here so the op stays
    two aggregations + one window).

    Scale/plan: two tiny aggregations broadcast back as 1-row scalar
    attaches, one Window over the HOST table (bounded by host count —
    the same cardinality the politeness rank already shuffles; never
    the URL table).  Pure integer/decimal codegen, bit-identical at
    any parallelism.
    """
    dec = "decimal(38,0)"
    elig = (F.col("pending") > 0) & (F.col("weight") > 0)
    s = host_stats.select(
        "host", "pending", "weight", elig.alias("_e"),
        F.col("weight").cast(dec).alias("_w"),
    )
    tot = s.where("_e").agg(F.sum("_w").cast(dec).alias("_wsum"))
    b = F.lit(int(total_budget)).cast(dec)
    based = (
        s.join(F.broadcast(tot))
        .withColumn(
            "_base",
            F.when(F.col("_e"), F.expr(f"CAST({int(total_budget)} AS {dec})"
                                       " * _w div _wsum").cast(dec))
            .otherwise(F.lit(0).cast(dec)),
        )
        .withColumn(
            "_rem",
            F.when(F.col("_e"), b * F.col("_w") - F.col("_base") * F.col("_wsum"))
            .otherwise(F.lit(-1).cast(dec)),
        )
    )
    leftover = based.agg(
        (b - F.sum("_base")).cast(dec).alias("_r")
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("host"))
    out = (
        based.join(F.broadcast(leftover))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "uncapped",
            (
                F.col("_base")
                + F.when(
                    F.col("_e") & (F.col("_rn").cast(dec) <= F.col("_r")),
                    F.lit(1),
                ).otherwise(F.lit(0)).cast(dec)
            ).cast("long"),
        )
    )
    quota = F.least(
        F.col("uncapped"),
        F.col("pending"),
        *( [F.lit(int(max_per_host))] if max_per_host is not None else [] ),
    )
    return out.select("host", quota.alias("quota"), "uncapped")


def aimd_delay(
    fetch_rounds: DataFrame,
    d0_ms: int = 1000,
    add_ms: int = 100,
    mult: int = 2,
    dmin_ms: int = 100,
    dmax_ms: int = 60_000,
) -> DataFrame:
    """Per-host AIMD politeness-delay controller — the adaptive loop
    production crawlers run on top of a static Crawl-delay: back OFF
    multiplicatively the moment a host shows distress, creep back DOWN
    additively while it stays healthy (TCP congestion control's AIMD,
    public).  The reference's only reaction to a sick host is the
    blacklist threshold (A1); this degrades politely first.

    ``fetch_rounds``: one row per (host, round:int, timeouts:long) —
    the per-round distress signal the metrics stage already aggregates.
    Starting from ``d0_ms``, rounds apply IN ORDER:

        timeouts > 0 → delay = min(delay · mult, dmax_ms)
        timeouts = 0 → delay = max(delay − add_ms, dmin_ms)

    Only rounds PRESENT for a host advance its controller (an idle
    round carries no evidence).  Output: (host, round, delay_ms) — the
    delay in force AFTER that round's evidence, feeding the next
    round's ``host_budgets``/schedule spacing.

    Scale/plan: the recurrence is sequential WITHIN a host and hosts
    are the parallel unit — exactly ``applyInPandas`` shape (the
    pack_sequences discipline): one shuffle on host, an O(rounds)
    integer fold per group, no state across groups.  Deterministic:
    pure integer arithmetic, bit-identical at any parallelism —
    mirrored by a recursive-CTE oracle.
    """
    import pandas as pd

    d0, add, m = int(d0_ms), int(add_ms), int(mult)
    lo, hi = int(dmin_ms), int(dmax_ms)

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("round")
        d = d0
        out = []
        for t in pdf["timeouts"].to_numpy():
            d = min(d * m, hi) if t > 0 else max(d - add, lo)
            out.append(d)
        return pd.DataFrame(
            {"host": pdf["host"], "round": pdf["round"], "delay_ms": out}
        )

    return fetch_rounds.select("host", "round", "timeouts").groupBy(
        "host"
    ).applyInPandas(_fold, schema="host string, round int, delay_ms long")


def aged_priority_col(now_s: int, boost: int, interval_s: int = 3600):
    """Rank-time aged priority (starvation guard): base priority plus
    ``boost`` for every full ``interval_s`` since ``discovered_ts``
    (clamped at zero for future timestamps).  Pure integer codegen —
    the exact expression ``run_round`` applies under
    ``config.age_boost_per_round``."""
    age = F.expr(
        f"CAST(({now_s} - unix_seconds(discovered_ts))"
        f" DIV {interval_s} AS INT)"
    )
    return (
        F.col("priority") + F.greatest(F.lit(0), age) * F.lit(int(boost))
    ).cast("int")


def retry_after_budgets(
    fetched: DataFrame,
    round_period_s: int,
    host_col: str = "host",
    headers_col: str = "headers",
    status_col: str = "status",
    now: str | None = None,
) -> DataFrame:
    """(host, budget) from ``Retry-After`` response headers (RFC 9110
    §10.2.3) — the SERVER-driven politeness signal beside robots
    Crawl-delay (advertised policy) and AIMD (inferred from failures):
    a 429/503 carrying Retry-After: d means the host asked for d
    seconds of backoff, translating to ⌊round_period / d⌋ fetches next
    round (≥ 1), exactly the Crawl-delay arithmetic.

    Both RFC forms parse: delta-seconds via try_cast, and — when the
    replayable ``now`` clock is passed — the IMF-fixdate form as
    (date − now) seconds; without ``now`` the date form is ignored
    (the conservative choice, no hidden wall clock).  Only 429/503 responses count —
    a 200 carrying the header is advisory noise.  Per host the
    LARGEST advertised delay wins (strictest).  Case-insensitive
    header lookup matches the engine's header conventions (X7 paths
    lowercase, Go-style paths canonicalize).

    One map-side-combinable groupBy over the round's fetches — host
    cardinality output, broadcast-sized, feeds ``rank_frontier``'s
    host_budgets overlay like ``budgets_from_robots``.
    """
    ra = F.coalesce(
        F.element_at(F.col(headers_col), "Retry-After"),
        F.element_at(F.col(headers_col), "retry-after"),
    )
    secs = ra.try_cast("bigint")
    if now is not None:
        # RFC 9110 also allows the HTTP-date form ("Wed, 21 Oct 2026
        # 07:28:00 GMT"): delay = date − now, replayable via the
        # explicit `now` (the robots_availability clock discipline).
        from ..functions.textfmt import http_date

        dt = http_date(ra)
        date_secs = (
            F.unix_timestamp(dt) - F.unix_timestamp(F.lit(now).cast("timestamp"))
        )
        secs = F.coalesce(secs, date_secs)
    relevant = fetched.where(
        F.col(status_col).isin(429, 503) & (secs > 0)
    ).select(F.col(host_col).alias("host"), secs.alias("_d"))
    return relevant.groupBy("host").agg(
        F.greatest(
            F.lit(1),
            F.expr(f"{int(round_period_s)} DIV max(_d)"),
        )
        .cast("int")
        .alias("budget")
    )


def merge_host_budgets(**sources: DataFrame) -> DataFrame:
    """Merge per-host politeness budgets from independent signals —
    robots Crawl-delay (advertised policy), Retry-After (server-driven
    backoff), AIMD (inferred from distress) — under the one sane rule:
    the STRICTEST signal wins (min budget).  A host missing from a
    source is unconstrained by it; a host missing from all sources is
    absent (the rank's default budget applies).

    ``sources``: name → (host, budget) frame.  Output: (host,
    <name>_budget … one column per source, NULL when silent,
    effective_budget = least of the present ones).

    Plan: a full-outer fold keyed on host — every input is
    host-cardinality (broadcast-sized at any corpus scale), so the
    merge never touches frontier-sized data; ``least()`` skips NULLs
    identically in Spark and DuckDB.
    """
    out = None
    names = []
    for name, df in sources.items():
        names.append(name)
        d = df.select("host", F.col("budget").alias(f"{name}_budget"))
        out = d if out is None else out.join(d, "host", "full")
    if out is None:
        raise ValueError("no budget sources")
    eff = F.least(*[F.col(f"{n}_budget") for n in names]) if len(names) > 1 \
        else F.col(f"{names[0]}_budget")
    return out.select(
        "host", *[f"{n}_budget" for n in names],
        eff.cast("long").alias("effective_budget"),
    )


def dispatch_schedule(
    scheduled: DataFrame,
    delays: DataFrame | None = None,
    default_delay_ms: int = 1000,
    arrival_col: str = "arrival_ms",
) -> DataFrame:
    """Per-URL fetch DISPATCH TIME: serialize each host's scheduled
    queue at its politeness spacing.  The reference enforces politeness
    implicitly — one consumer pulls one host's URLs off the queue and
    Tor latency spaces the fetches (README.md:35-44 competing
    consumers); production crawlers make it explicit with the classic
    work-queue recurrence over the host's queue in priority order:

        emit_0 = arrival_0
        emit_i = max(arrival_i, emit_{i-1} + delay)

    i.e. a fetch goes out when the URL is available AND the host's
    delay since the previous fetch has elapsed.

    Spark-first closed form — the sequential fold is exactly a prefix
    maximum, so NO applyInPandas is needed:

        emit_i = i·delay + max_{j ≤ i}(arrival_j − j·delay)

    (proof: unroll the recurrence; each emit_i is the latest of
    "arrival_j then i−j forced delays" over all j ≤ i).  One window per
    host (rank + running max over the same ordering), pure integer
    milliseconds end-to-end — bit-identical at any parallelism and
    exactly mirrored by a SQL window oracle.

    ``scheduled``: (url_hash, host, priority, ``arrival_col``) — the
    round's politeness-budgeted schedule with per-URL availability
    (round start, or a retry_after/robots gate).  ``delays``: optional
    (host, delay_ms) — e.g. the AIMD controller's current output or
    robots Crawl-delay; absent hosts use ``default_delay_ms``.

    Output: input columns + (seq, dispatch_ms) where seq is the 0-based
    position in the host's dispatch order (priority desc, url_hash).

    Scale/plan: one shuffle on host (the window), one broadcast-or-
    shuffle join for delays (host-cardinality).  Per-host queues are
    budget-bounded upstream (O1), so no window partition exceeds
    per_host_budget rows regardless of host skew.
    """
    df = scheduled
    if delays is not None:
        df = df.join(delays.select("host", "delay_ms"), "host", "left")
        d = F.coalesce(F.col("delay_ms"), F.lit(int(default_delay_ms)))
    else:
        d = F.lit(int(default_delay_ms))
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    w = Window.partitionBy("host").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = (F.row_number().over(w) - 1).cast("long")
    df = df.withColumn("_seq", seq).withColumn("_d", d.cast("long"))
    slack = F.col(arrival_col).cast("long") - F.col("_seq") * F.col("_d")
    dispatch = F.col("_seq") * F.col("_d") + F.max(slack).over(wrun)
    out = df.withColumn("seq", F.col("_seq")).withColumn(
        "dispatch_ms", dispatch
    )
    return out.drop("_seq", "_d", *(
        ["delay_ms"] if delays is not None else []
    ))


def host_explosion_guard(
    frontier: DataFrame,
    max_hosts: int,
    host_col: str = "host",
    suffixes=None,
) -> DataFrame:
    """Spam-farm containment by HOST-CARDINALITY budget per registered
    domain (the defense IRLbot ran as domain-budgeted crawling — Lee,
    Leonard, Wang & Loguinov, WWW 2008, public): link farms mint
    unbounded synthetic subdomains (*.spam-site.com), and per-HOST
    politeness alone happily schedules a million one-URL hosts.  The
    guard groups frontier hosts by eTLD+1 (PSL longest match,
    ``registered_domain_cols``) and keeps at most ``max_hosts`` hosts
    per domain — ranked (n_urls DESC, host ASC), so a legitimate site's
    big subdomains survive and the minted long tail is cut.

    Relational shape: one groupBy(host) count (map-side partials), the
    broadcast PSL join, one window over DOMAINS (cardinality = distinct
    domains ≪ hosts; the per-domain row count this window sorts is
    bounded by hosts-per-domain, and the guard exists precisely because
    that should be small for honest sites).  Returns per-host verdicts
    ``(host, registered_domain, n_urls, host_rank, kept)`` — callers
    apply it as a broadcast semi/anti-join on the frontier, exactly
    like the hostname blacklist (F4).
    """
    from pyspark.sql import Window

    from ..functions.urltools import PUBLIC_SUFFIXES, registered_domain_cols

    counts = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    dom = registered_domain_cols(
        counts, suffixes=suffixes or PUBLIC_SUFFIXES
    ).select("host", "registered_domain")
    ranked = counts.join(dom, "host").withColumn(
        "host_rank",
        F.row_number().over(
            Window.partitionBy("registered_domain").orderBy(
                F.col("n_urls").desc(), F.col("host").asc()
            )
        ).cast("long"),
    )
    return ranked.select(
        "host",
        "registered_domain",
        "n_urls",
        "host_rank",
        (F.col("host_rank") <= F.lit(int(max_hosts))).alias("kept"),
    )
