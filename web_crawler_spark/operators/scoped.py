"""Scoped-element extraction (reference: backend/crawler/parser.py:19-112).

The reference resolves a crawl request's ``scope_class`` / ``scope_id``
against the parsed DOM: id match first (``find(id=...)``), else first
element carrying the class (``class_name in x.split()`` — i.e. membership in
the multi-class attribute, parser.py:38-49), else a ValueError whose message
embeds the diagnostic **sorted first-20 distinct class sample** of the page
(parser.py:89-109 — the W3 "sorted-20" shape). No scope → the full page.

This engine has no DOM (SURVEY §1.1 — content is pre-materialized); the
operator runs over an **elements table** (one row per element, document
order) and expresses the same semantics as declarative dataflow with
error-as-data (E1): a scope miss is a ``scope_miss`` row carrying the
diagnostic sample, never an exception.

Scale notes: the scopes side is per-request (small) → broadcast join; the
elements side is scanned once for matching and once for the miss diagnostic
(only pages with a scoped request, semi-join-pruned); first-match selection
is a per-request window over only that page's candidate hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_CLASS_SAMPLE = 20  # parser.py:104 — "limit to 20"


def _req_eq(a: str, b: str):
    """Null-safe equality on the request key (page_url, scope_class,
    scope_id) — scope columns are legitimately NULL. ``a``/``b`` are
    DataFrame aliases."""
    return (
        F.col(f"{a}.page_url").eqNullSafe(F.col(f"{b}.page_url"))
        & F.col(f"{a}.scope_class").eqNullSafe(F.col(f"{b}.scope_class"))
        & F.col(f"{a}.scope_id").eqNullSafe(F.col(f"{b}.scope_id"))
    )


def scoped_extract(
    elements: DataFrame,
    scopes: DataFrame,
    *,
    max_class_sample: int = MAX_CLASS_SAMPLE,
) -> DataFrame:
    """Resolve scope requests against an elements table.

    ``elements``: (page_url, elem_seq, elem_id, classes: array<string>, text)
    — one row per element in document order.
    ``scopes``: (page_url, scope_class, scope_id) — one row per request.

    Returns one row per request:
    (page_url, scope_class, scope_id, status, matched_by, elem_seq, text,
    available_classes) where status ∈ {ok, scope_miss}; matched_by ∈
    {id, class, page}; on ``scope_miss`` ``available_classes`` carries the
    reference's sorted first-``max_class_sample`` distinct class sample
    (comma-joined, parser.py:104-109) and text is NULL. A request with no
    scope at all returns the whole page: element texts joined with
    newlines in document order (parser.py:112 full-soup path).
    """
    sc = F.broadcast(scopes.select("page_url", "scope_class", "scope_id"))
    j = elements.join(sc, "page_url")

    id_hit = j.filter(
        F.col("scope_id").isNotNull() & (F.col("elem_id") == F.col("scope_id"))
    ).withColumn("matched_by", F.lit("id"))
    class_hit = j.filter(
        F.col("scope_class").isNotNull()
        & F.array_contains(F.col("classes"), F.col("scope_class"))
    ).withColumn("matched_by", F.lit("class"))
    # precedence: id beats class (parser.py:30-34), then first in document
    # order within the method (soup.find document order)
    w = Window.partitionBy("page_url", "scope_class", "scope_id").orderBy(
        F.when(F.col("matched_by") == "id", 0).otherwise(1).asc(),
        F.col("elem_seq").asc(),
    )
    ok = (
        id_hit.unionByName(class_hit)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "page_url",
            "scope_class",
            "scope_id",
            F.lit("ok").alias("status"),
            "matched_by",
            F.col("elem_seq").cast("long").alias("elem_seq"),
            "text",
            F.lit(None).cast("string").alias("available_classes"),
        )
    )

    # no-scope requests → full page: newline-joined element texts in
    # document order (ordering enforced INSIDE the aggregation — K5 rule).
    # LEFT join: a request for a page with no elements still returns its
    # one row (empty text), never silently vanishes — one row per request.
    no_scope = sc.filter(F.col("scope_class").isNull() & F.col("scope_id").isNull())
    page_text = (
        no_scope.join(elements, "page_url", "left")
        .groupBy("page_url", "scope_class", "scope_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("elem_seq").alias("o"), F.col("text").alias("t")))
                    ),
                    lambda x: x["t"],
                ),
            ).alias("text")
        )
        .select(
            "page_url",
            "scope_class",
            "scope_id",
            F.lit("ok").alias("status"),
            F.lit("page").alias("matched_by"),
            F.lit(None).cast("long").alias("elem_seq"),
            "text",
            F.lit(None).cast("string").alias("available_classes"),
        )
    )

    # misses: scoped requests with no hit → diagnostic class sample
    scoped_req = sc.filter(
        F.col("scope_class").isNotNull() | F.col("scope_id").isNotNull()
    )
    missed = scoped_req.alias("r").join(
        ok.select("page_url", "scope_class", "scope_id").alias("h"),
        _req_eq("r", "h"),
        "left_anti",
    )
    diag = (
        elements.join(scoped_req.select("page_url").distinct(), "page_url", "left_semi")
        .select("page_url", F.explode("classes").alias("cls"))
        .distinct()
        .groupBy("page_url")
        .agg(
            F.concat_ws(
                ", ",
                F.slice(F.array_sort(F.collect_list("cls")), 1, max_class_sample),
            ).alias("available_classes")
        )
    )
    miss_rows = missed.join(diag, "page_url", "left").select(
        "page_url",
        "scope_class",
        "scope_id",
        F.lit("scope_miss").alias("status"),
        F.lit(None).cast("string").alias("matched_by"),
        F.lit(None).cast("long").alias("elem_seq"),
        F.lit(None).cast("string").alias("text"),
        F.coalesce(F.col("available_classes"), F.lit("")).alias("available_classes"),
    )

    return ok.unionByName(page_text).unionByName(miss_rows)
