"""Per-host politeness: robots filtering + budgeted priority selection (W4/J4).

The reference only aspires to robots/rate limiting (docs/dev-spec.md:1708-1712);
the north rule makes them first-class:

- ``robots_filter``: broadcast join of the small per-host policy table against
  the frontier; rows under a disallowed path prefix are dropped (counted).
- ``select_per_host``: pick ≤ budget URLs per host per round by
  (priority DESC, url_hash ASC). Skew-safe two-phase plan: Zipfian hosts mean
  one host can own 30% of the frontier, so a naive Window.partitionBy(host)
  sends that host's entire frontier through one task. Phase 1 ranks within
  (host, salt) — pmod(url_hash, S) spreads a mega-host over S tasks — and
  prunes each bucket to the budget; phase 2 ranks the ≤ S*budget survivors
  per host exactly. Per-host top-k ⊆ union of per-(host,salt) top-k, so the
  two-phase result is identical to the naive one (verified in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urls as U

DEFAULT_HOST_BUDGET = 4
DEFAULT_SALT_BUCKETS = 16


def parse_robots_txt(
    df: DataFrame, host_col: str = "host", body_col: str = "robots_txt"
) -> DataFrame:
    """(host, robots_txt body) → (host, disallow_prefixes, crawl_delay_ms):
    the parser that turns fetched robots.txt payloads into the broadcastable
    policy table ``robots_filter``/``with_host_budget`` consume.

    Simplified RFC 9309, deterministic, entirely JVM-side (posexplode lines
    → window group-resolution → groupBy host; zero UDFs):
    - groups start at the first ``User-agent:`` line of a consecutive run;
      a group applies if ANY of its user-agent lines is ``*``;
    - ``Disallow:`` non-empty path prefixes from applicable groups, distinct
      + sorted (no wildcard support — prefixes verbatim, matching
      ``robots_filter``'s startswith semantics);
    - ``Crawl-delay:`` seconds → milliseconds, minimum across applicable
      groups (conservative);
    - ``#`` comments stripped; CRLF and LF line endings both accepted;
      whitespace (spaces/tabs) trimmed with a regex, not ASCII-space-only
      ``trim``; field names case-insensitive; hosts whose body yields no
      applicable rules still emit a row (empty prefixes, NULL delay) so
      the downstream left join sees every fetched host;
    - multiple rows per host (e.g. a refetched robots.txt) are parsed as
      the lexicographic concatenation of the distinct bodies —
      deterministic; pass one row per host for plain semantics.
    """
    ex = df.select(
        F.col(host_col).alias("host"),
        F.col(body_col).alias("__body"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(body_col), F.lit("")), r"\r?\n")
        ).alias("pos", "raw"),
    )
    ln = F.regexp_replace(
        F.regexp_replace(F.col("raw"), "#.*$", ""), r"^\s+|\s+$", ""
    )
    d = ex.select(
        "host",
        "__body",
        "pos",
        ln.alias("ln"),
        F.lower(ln).alias("low"),
        F.regexp_replace(
            F.regexp_extract(ln, r"^[^:]*:(.*)$", 1), r"^\s+|\s+$", ""
        ).alias("val"),
    )
    w = Window.partitionBy("host").orderBy("__body", "pos")
    d = (
        d.withColumn("is_ua", F.col("low").startswith("user-agent:"))
        .withColumn(
            "run_start",
            F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False)),
        )
        .withColumn("grp", F.sum(F.col("run_start").cast("int")).over(w))
    )
    star_groups = (
        d.filter(F.col("is_ua") & (F.col("val") == "*"))
        .select("host", "grp")
        .distinct()
    )
    rules = d.join(star_groups, ["host", "grp"], "left_semi")
    dis = (
        rules.filter(F.col("low").startswith("disallow:") & (F.col("val") != ""))
        .groupBy("host")
        .agg(F.sort_array(F.collect_set("val")).alias("disallow_prefixes"))
    )
    delay = (
        rules.filter(F.col("low").startswith("crawl-delay:"))
        .groupBy("host")
        .agg(
            (F.min(F.col("val").try_cast("double")) * 1000)
            .cast("long")
            .alias("crawl_delay_ms")
        )
    )
    return (
        df.select(F.col(host_col).alias("host"))
        .distinct()
        .join(dis, "host", "left")
        .join(delay, "host", "left")
        .select(
            "host",
            F.coalesce(
                F.col("disallow_prefixes"), F.array().cast("array<string>")
            ).alias("disallow_prefixes"),
            "crawl_delay_ms",
            # robots.txt carries no per-round cap; NULL lets
            # with_host_budget fall back to its default_budget, so the
            # parser output is drop-in for the whole policy chain
            F.lit(None).cast("int").alias("max_per_round"),
        )
    )


def extract_sitemaps(
    df: DataFrame, host_col: str = "host", body_col: str = "robots_txt"
) -> DataFrame:
    """(host, robots_txt body) → (host, sitemap_url, is_valid): sitemap
    discovery, the seed-expansion input for the frontier (a sitemap URL is
    admitted like any discovered link, subject to the same dedupe/budget
    chain).

    ``Sitemap:`` directives are group-INDEPENDENT per RFC 9309 §2.3 /
    sitemaps.org — unlike Disallow they apply regardless of surrounding
    User-agent runs, so this is a plain line scan: posexplode → filter →
    distinct, zero UDFs, zero windows. ``is_valid`` marks absolute
    http(s) values (the protocol requires full URLs); invalid values are
    kept as error-as-data rather than silently dropped. Comments stripped
    and CRLF accepted exactly as in :func:`parse_robots_txt`.
    """
    ex = df.select(
        F.col(host_col).alias("host"),
        F.explode_outer(
            F.split(F.coalesce(F.col(body_col), F.lit("")), r"\r?\n")
        ).alias("raw"),
    )
    ln = F.regexp_replace(
        F.regexp_replace(F.col("raw"), "#.*$", ""), r"^\s+|\s+$", ""
    )
    val = F.regexp_replace(
        F.regexp_extract(ln, r"^[^:]*:(.*)$", 1), r"^\s+|\s+$", ""
    )
    return (
        ex.select("host", ln.alias("ln"), val.alias("sitemap_url"))
        .filter(F.lower(F.col("ln")).startswith("sitemap:") & (F.col("sitemap_url") != ""))
        .select(
            "host",
            "sitemap_url",
            F.col("sitemap_url").rlike(r"^https?://").alias("is_valid"),
        )
        .distinct()
    )


def robots_filter(
    frontier: DataFrame, robots: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split frontier into (allowed, blocked) under per-host disallow prefixes.

    The robots table is a small dim (one row per host) → broadcast hash join,
    no shuffle of the frontier.

    Path-less URLs ('https://example.com') match as '/' per RFC 9309 §2.2.2:
    parse_url PATH yields '' (not NULL) there, so a bare coalesce-to-'/'
    never fires and 'Disallow: /' would fail to block the host's root — a
    robots violation. The Python oracle crawler applies the same rule.
    """
    raw_path = U.url_path(F.col("url"))
    path = F.when(
        raw_path.isNull() | (raw_path == ""), F.lit("/")
    ).otherwise(raw_path)
    joined = frontier.join(
        F.broadcast(robots.select("host", "disallow_prefixes")), "host", "left"
    ).withColumn(
        "__blocked",
        F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array()),
            lambda p: path.startswith(p),
        ),
    )
    allowed = joined.filter(~F.col("__blocked")).drop("__blocked", "disallow_prefixes")
    blocked = joined.filter(F.col("__blocked")).drop("__blocked", "disallow_prefixes")
    return allowed, blocked


DEFAULT_ROUND_WINDOW_MS = 60_000


def with_host_budget(
    frontier: DataFrame,
    robots: DataFrame,
    default_budget: int = DEFAULT_HOST_BUDGET,
    round_window_ms: int = DEFAULT_ROUND_WINDOW_MS,
    rnd: int = 1,
) -> DataFrame:
    """Attach the per-host round budget.

    budget = min(max_per_round (else default), ⌊round_window / crawl_delay⌋):
    a host demanding a crawl delay can receive at most window/delay fetches
    per scheduling round, the batch-dataflow expression of per-host rate
    limiting (the reference only aspires to it — docs/dev-spec.md:1708).

    A delay LONGER than the round window means less than one fetch per
    round: the host is fetched on round ``rnd`` (1-based) once every
    ``ceil(delay / window)`` rounds and skipped otherwise — flooring at 1
    every round would over-fetch an N-window-delay host N-fold. Round 1,
    the default, is a due round for every host.
    """
    base = F.coalesce(F.col("max_per_round"), F.lit(default_budget))
    delay = F.col("crawl_delay_ms")
    has_delay = delay.isNotNull() & (delay > 0)
    per_round = F.greatest(
        (F.lit(round_window_ms) / delay).cast("int"), F.lit(1)
    )
    # exact integer ceil(delay / window); fetch on rounds 1, 1+p, 1+2p…
    period = F.floor(
        (delay + F.lit(round_window_ms - 1)) / F.lit(round_window_ms)
    ).cast("long")
    due = F.pmod(F.lit(int(rnd) - 1), period) == 0
    delay_cap = F.when(
        has_delay,
        F.when(period <= 1, per_round).otherwise(
            F.when(due, F.lit(1)).otherwise(F.lit(0))
        ),
    )
    return (
        frontier.join(
            F.broadcast(robots.select("host", "max_per_round", "crawl_delay_ms")),
            "host",
            "left",
        )
        .withColumn("host_budget", F.least(base, F.coalesce(delay_cap, base)))
        .drop("max_per_round", "crawl_delay_ms")
    )


def two_phase_topk(
    df: DataFrame,
    key_cols: list[str],
    order: list,
    budget,
    salt_col,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Generic skew-safe per-key top-k (the W4 pattern, reusable).

    Phase 1 ranks within (key, salt) so a mega-key spreads over
    ``salt_buckets`` tasks; phase 2 ranks the ≤ buckets·budget survivors per
    key exactly. Per-key top-k ⊆ union of per-(key,salt) top-k, so the
    result is identical to the naive single window (verified in tests).
    ``budget`` may be an int or a Column; ``salt_col`` any deterministic
    integer Column (e.g. a hash of the row key).
    """
    budget_col = F.lit(budget) if isinstance(budget, int) else budget
    salt = F.pmod(salt_col, F.lit(salt_buckets))
    w1 = Window.partitionBy(*[F.col(c) for c in key_cols], salt).orderBy(*order)
    pruned = (
        df.withColumn("__budget", budget_col)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= F.col("__budget"))
        .drop("__r1")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        pruned.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= F.col("__budget"))
        .drop("__r2", "__budget")
    )


def select_per_host(
    frontier: DataFrame,
    robots: DataFrame,
    default_budget: int = DEFAULT_HOST_BUDGET,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    round_window_ms: int = DEFAULT_ROUND_WINDOW_MS,
    rnd: int = 1,
) -> DataFrame:
    """W4: ≤ budget rows per host, by (priority DESC, url_hash ASC), two-phase."""
    budgeted = with_host_budget(
        frontier, robots, default_budget, round_window_ms, rnd=rnd
    )
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    return two_phase_topk(
        budgeted,
        ["host"],
        order,
        F.col("host_budget"),
        F.col("url_hash"),
        salt_buckets,
    ).drop("host_budget")


FETCH_SEQ_SAMPLE_MOD = 64


def assign_fetch_seq(
    batch: DataFrame,
    num_partitions: int | None = None,
    sample_mod: int = FETCH_SEQ_SAMPLE_MOD,
    sample_rows=None,
) -> DataFrame:
    """Deterministic total order within the round: fetch_seq by
    (priority DESC, url_hash ASC) — the global rank, computed two-phase so
    no single task ever sorts the whole batch (VERDICT r1 #2):

    1. bucket boundaries come from a **value-deterministic sample**
       (rows with pmod(url_hash, sample_mod) == 0 — a pure function of row
       VALUES, so every evaluation of the plan, every cluster size, and
       every retry picks the same boundaries; Spark's repartitionByRange is
       NOT usable here because its reservoir sampling depends on shuffle
       row order and the bucket column is consumed by two plan branches);
    2. each row's bucket = number of boundaries strictly before its key in
       the sort order — a chained-comparison projection, whole-stage
       codegen, no shuffle;
    3. per-bucket ``row_number`` (window partitioned by bucket — parallel
       hash shuffle), plus cumulative bucket offsets (one tiny aggregate of
       ≤ num_partitions rows, broadcast back):
       fetch_seq = bucket_offset + local rank.

    Output equality: fetch_seq is the global rank of the (priority DESC,
    url_hash ASC) total order — url_hash is unique within the batch (it is
    post-dedupe), so the order is total and the result is byte-identical to
    the single-window form regardless of boundary placement. Driver cost is
    the boundary sample only: O(|batch| / sample_mod) rows, vs O(|batch|)
    rows through ONE task for the naive global window.

    ``sample_rows``: the caller may supply the boundary sample directly —
    any sequence of (priority, url_hash) rows equal to the pmod filter's
    result (the crawl round rides it on the ``selected`` checkpoint as an
    observed collect_list, saving one sequential job per round). The
    sample is a pure function of row values either way, so supplied vs
    collected boundaries are identical and so is fetch_seq.
    """
    spark = batch.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    bucket = F.lit(0)
    if num_partitions > 1:
        sample = (
            list(sample_rows)
            if sample_rows is not None
            else batch.select("priority", "url_hash")
            .filter(F.pmod(F.col("url_hash"), F.lit(sample_mod)) == 0)
            .collect()
        )
        sample.sort(key=lambda r: (-r["priority"], r["url_hash"]))
        n_b = min(num_partitions - 1, len(sample))
        picked, seen_keys = [], set()
        for i in range(n_b):
            r = sample[min(len(sample) - 1, (len(sample) * (i + 1)) // (n_b + 1))]
            key = (r["priority"], r["url_hash"])
            if key not in seen_keys:
                seen_keys.add(key)
                picked.append(key)
        for p_b, h_b in picked:
            after = (F.col("priority") < F.lit(p_b)) | (
                (F.col("priority") == F.lit(p_b)) & (F.col("url_hash") > F.lit(h_b))
            )
            bucket = bucket + F.when(after, 1).otherwise(0)

    bucketed = batch.withColumn("__bucket", bucket)
    w_local = Window.partitionBy("__bucket").orderBy(*order)
    local = bucketed.withColumn("__local_seq", F.row_number().over(w_local))
    # offsets: rows in all lower buckets (bucket order == key order by
    # construction). ≤ num_partitions rows; safe to window globally.
    w_off = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("__bucket")
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__offset", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .select("__bucket", "__offset")
    )
    return (
        local.join(F.broadcast(offsets), "__bucket")
        .withColumn(
            "fetch_seq", (F.col("__offset") + F.col("__local_seq")).cast("long")
        )
        .drop("__bucket", "__local_seq", "__offset")
    )


def assign_fetch_seq_global(batch: DataFrame) -> DataFrame:
    """The naive single-window form of ``assign_fetch_seq`` — one task sorts
    the whole batch. Kept as the equality oracle for the two-phase plan
    (tests assert byte-identical output) and for tiny interactive batches.
    """
    w = Window.orderBy(F.col("priority").desc(), F.col("url_hash").asc())
    return batch.withColumn("fetch_seq", F.row_number().over(w).cast("long"))
