"""Label / group-identity semantics (reference labels.go, series.go).

The reference's GROUP BY key is a canonical serialization of a sorted
subset of label key:value pairs (labels.go:54-73): keys sorted
case-sensitively (byte order), missing keys silently skipped, joined as
"k1:v1,k2:v2". A series' UID is the ID over ALL its keys (series.go:40-42).

Two surfaces here:
  * plain-Python versions for tests and driver-side prep;
  * Spark Column builders so the same identity is computable relationally
    (prunable, codegen'd) from either first-class columns or a
    map<string,string> dims column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "label_id",
    "label_id_cols",
    "label_id_map",
    "label_join",
    "label_replace",
    "vector_binop",
    "vector_setop",
]


def label_id(labels: dict[str, str], keys: list[str] | None = None) -> str:
    """Canonical "k:v,k:v" identity over sorted (case-sensitive) keys.

    keys=None -> all keys (Series.UID, series.go:40-42). Missing keys are
    skipped (labels.go:61-66). Python's sorted() on str is codepoint order,
    matching Go's sort.Strings byte order for the label strings in scope.
    """
    use = sorted(labels.keys()) if keys is None else sorted(keys)
    return ",".join(f"{k}:{labels[k]}" for k in use if k in labels)


def label_id_cols(keys: list[str]) -> Column:
    """label_id over first-class string columns (keys must exist).

    NULL column values serialize as a skipped pair to mirror the
    reference's missing-key skip: concat_ws drops nulls.
    """
    use = sorted(keys)
    parts = [
        F.when(F.col(k).isNotNull(), F.concat(F.lit(k + ":"), F.col(k)))
        for k in use
    ]
    return F.concat_ws(",", *parts)


def label_id_map(dims_col: str | Column, keys: list[str] | None = None) -> Column:
    """label_id over a map<string,string> column.

    keys=None serializes every entry (sorted by key); otherwise the given
    subset, skipping keys absent from the map.
    """
    m = F.col(dims_col) if isinstance(dims_col, str) else dims_col
    if keys is None:
        entries = F.array_sort(F.map_entries(m))
        pairs = F.transform(entries, lambda e: F.concat_ws(":", e.key, e.value))
        return F.array_join(pairs, ",")
    use = sorted(keys)
    parts = [
        F.when(
            F.element_at(m, F.lit(k)).isNotNull(),
            F.concat(F.lit(k + ":"), F.element_at(m, F.lit(k))),
        )
        for k in use
    ]
    return F.concat_ws(",", *parts)


def label_replace(
    df,
    dims_col: str,
    dst: str,
    replacement: str,
    src: str,
    regex: str,
):
    """PromQL ``label_replace(v, dst, replacement, src, regex)`` over a
    map<string,string> dims column.

    Exact PromQL semantics: the regex is matched FULLY anchored
    (``^(?:re)$``) against the value of ``src`` (a missing label reads
    as the empty string). On a match, ``dst`` is set to ``replacement``
    with ``$1``-style capture expansion; if the expansion is empty the
    ``dst`` label is REMOVED from the label set. On no match the row's
    labels are unchanged. ``src`` itself is never modified unless it is
    also ``dst``.

    Pure map expressions (map_filter / map_concat / regexp_replace) —
    JVM-side, codegen'd, no shuffle: a label rewrite over 100 TB is a
    scan-speed projection.
    """
    import re as _re

    _re.compile(regex)  # fail fast on a bad pattern, like PromQL does
    anchored = f"^(?:{regex})$"
    m = F.col(dims_col)
    src_val = F.coalesce(F.element_at(m, F.lit(src)), F.lit(""))
    matched = src_val.rlike(anchored)
    new_val = F.regexp_replace(src_val, anchored, replacement)
    without_dst = F.map_filter(m, lambda k, _v: k != F.lit(dst))
    replaced = F.when(
        new_val != "",
        F.map_concat(without_dst, F.create_map(F.lit(dst), new_val)),
    ).otherwise(without_dst)
    return df.withColumn(dims_col, F.when(matched, replaced).otherwise(m))


def label_join(
    df,
    dims_col: str,
    dst: str,
    sep: str,
    src_labels: list[str],
):
    """PromQL ``label_join(v, dst, sep, src1, src2, ...)``: set ``dst``
    to the values of the source labels joined by ``sep`` (missing
    sources read as empty strings — PromQL keeps their slot, so the
    separator count is fixed). An all-empty join result removes ``dst``.

    Same scan-speed map-expression profile as label_replace.
    """
    m = F.col(dims_col)
    parts = [
        F.coalesce(F.element_at(m, F.lit(s)), F.lit("")) for s in src_labels
    ]
    joined = F.concat_ws(sep, *parts) if parts else F.lit("")
    without_dst = F.map_filter(m, lambda k, _v: k != F.lit(dst))
    return df.withColumn(
        dims_col,
        F.when(
            joined != "",
            F.map_concat(without_dst, F.create_map(F.lit(dst), joined)),
        ).otherwise(without_dst),
    )


def vector_binop(
    left,
    right,
    op: str,
    on: list[str],
    dims_col: str = "dims",
    value_col: str = "value",
    extra_on_cols: tuple[str, ...] = (),
    group: str = "one",
    carry: tuple[str, ...] = (),
    strict: bool = True,
    out_col: str = "value",
):
    """PromQL binary operation between two instant vectors with
    explicit vector matching — ``l <op> on(l1, ...) [group_left(c...)]
    r`` — over map-typed dims columns. The last big PromQL surface the
    engine was missing: every ratio panel (errors / on(user) totals)
    is this operator.

    Matching: series pair up when their label sets RESTRICTED to the
    ``on`` labels are equal (canonical label_id_map subset identity —
    the reference's sorted-k:v skip-missing rule, labels.go:54-66),
    plus any first-class ``extra_on_cols`` (the time bucket, for
    per-bucket vectors). The join is INNER, as in PromQL: a series
    present on one side only drops out.

    group="one" (one-to-one): result carries ONLY the on-labels
    (PromQL's `on` output labels); with strict=True a driver-side
    check raises ValueError if either side has duplicate signatures
    (PromQL's many-to-many eval error). group="left" (many-to-one):
    the left side may repeat a signature, the right must not; result
    keeps the FULL left label set, plus any ``carry`` labels copied
    from the right (group_left(c...)), overwriting on collision.

    strict=True runs one tiny aggregation job per checked side at
    call time; pass strict=False when uniqueness is guaranteed by
    construction (e.g. the vectors come out of a groupBy on exactly
    the on-labels) to keep query construction execution-free.

    Scale shape: one exchange per side on (signature, extra cols) —
    the standard equi-join; broadcast the right side upstream when it
    is a small dim table. The op itself is a scalar projection.

    Returns (extra_on_cols..., dims, out_col).
    """
    if group not in ("one", "left"):
        raise ValueError(f"group must be 'one' or 'left', got {group!r}")
    lsig = label_id_map(F.col(dims_col), list(on))
    keys = ["__sig", *extra_on_cols]

    def prep(df, val_alias, keep_dims):
        cols = [lsig.alias("__sig"), *[F.col(c) for c in extra_on_cols],
                F.col(value_col).alias(val_alias)]
        if keep_dims:
            cols.append(F.col(dims_col).alias(f"__dims_{val_alias}"))
        return df.select(*cols)

    def assert_unique(df, side):
        dup = (
            df.select(lsig.alias("__sig"), *extra_on_cols)
            .groupBy(*keys)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"vector_binop: duplicate series signature on the "
                f"{side} side for on={sorted(on)} (PromQL matching "
                f"error); aggregate first or use group='left'"
            )

    if strict:
        assert_unique(right, "right")
        if group == "one":
            assert_unique(left, "left")

    l = prep(left, "__l", keep_dims=True)
    r = prep(right, "__r", keep_dims=(group == "left" and bool(carry)))
    j = l.join(r, keys)
    result = F.expr(f"__l {op} __r").alias(out_col)

    on_set = sorted(on)
    if group == "one":
        out_dims = F.map_filter(
            F.col("__dims___l"),
            lambda k, _v: F.array_contains(
                F.array(*[F.lit(x) for x in on_set]), k
            ),
        )
    else:
        out_dims = F.col("__dims___l")
        if carry:
            carried = F.map_filter(
                F.col("__dims___r"),
                lambda k, _v: F.array_contains(
                    F.array(*[F.lit(x) for x in carry]), k
                ),
            )
            out_dims = F.map_concat(
                F.map_filter(
                    out_dims,
                    lambda k, _v: ~F.array_contains(
                        F.array(*[F.lit(x) for x in carry]), k
                    ),
                ),
                carried,
            )
    return j.select(
        *extra_on_cols,
        out_dims.alias(dims_col),
        result,
    )


def vector_setop(
    left,
    right,
    op: str,
    on: list[str],
    dims_col: str = "dims",
    value_col: str = "value",
    extra_on_cols: tuple[str, ...] = (),
):
    """PromQL logical set operators between instant vectors —
    ``l and on(...) r`` / ``l unless on(...) r`` / ``l or on(...) r``
    — the filtering complement of vector_binop's arithmetic: "users
    with errors AND high traffic", "traffic UNLESS in maintenance".

    Semantics (PromQL exactly): matching is on the canonical
    label-subset signature (label_id_map over ``on``) plus
    ``extra_on_cols``; values and labels always come from the LEFT
    side for `and`/`unless` — the right side only gates.
      and:    left rows whose signature exists on the right
              (LeftSemi join)
      unless: left rows whose signature does NOT exist on the right
              (LeftAnti join)
      or:     all left rows, plus right rows whose signature has no
              left counterpart (anti + union; right VALUES survive
              only for those orphan signatures)

    Scale shape: semi/anti joins shuffle only the signature columns
    of the right side after partial dedup — the right side never
    carries values through the exchange; `or` adds one anti-join and
    a union, no extra scan of the left. Broadcast the right side
    upstream when it is small.

    Returns (extra_on_cols..., dims, value) rows, same contract as
    the vectors that went in.
    """
    if op not in ("and", "unless", "or"):
        raise ValueError(f"op must be 'and'/'unless'/'or', got {op!r}")
    sig = label_id_map(F.col(dims_col), list(on))
    keys = ["__sig", *extra_on_cols]

    def prep(df):
        return df.select(
            sig.alias("__sig"),
            *[F.col(c) for c in extra_on_cols],
            F.col(dims_col).alias("dims"),
            F.col(value_col).alias("value"),
        )

    lp, rp = prep(left), prep(right)
    rkeys = rp.select(*keys).distinct()
    if op == "and":
        out = lp.join(rkeys, keys, "left_semi")
    elif op == "unless":
        out = lp.join(rkeys, keys, "left_anti")
    else:  # or
        lkeys = lp.select(*keys).distinct()
        orphans = rp.join(lkeys, keys, "left_anti")
        out = lp.unionByName(orphans)
    return out.select(*extra_on_cols, "dims", "value")
