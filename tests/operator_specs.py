"""Unfused reference forms of fused production operators.  Tests
check each production operator against its spec here row for row.

- ``lsh_band_signatures(minhash_signatures(sh))`` is the composed form
  of ``dedup.band_signatures``.
- ``range_point_join`` + groupBy is the pair-materialising form of
  ``temporal.range_point_prefix_agg``.
- ``text_tiling_hof`` is the declarative higher-order-function form of
  ``textstats.text_tiling`` (a fused ``mapInPandas`` in production).
- ``articles`` is the pandas form of ``articles.build_articles`` over
  span rows (doc_id, kind, text, media_ref, order).
- ``cer`` is the whole-document form of ``metrics.cer_spans``: with
  one span per document on both sides the two agree.
- ``cer_summary`` is the median/mean CER roll-up of a CER frame.
- ``merge_frame``, ``post_correct`` and ``spans_frame`` are the pandas
  column-pass forms of the fused fold's three phases
  (``layout._merge_frame``, ``articles._post_correct_pd`` and
  ``articles.spans_frame_pd``): a per-run ``.iat`` merge and chained
  ``.str`` passes with an ``explode`` and a groupby title join.  They
  call the ``.str`` forms of the text rules here (``normalize_text_pd``,
  ``is_title_pd``, ``strip_fences_pd``), not ``functions/text.py``."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reading_the_unreadable_spark.functions.text import LIGATURES, PARA_MARKER
from reading_the_unreadable_spark.operators.dedup import BAND_ROWS, N_HASHES
from reading_the_unreadable_spark.operators.layout import MERGE_WIDTH_MULTIPLIER


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash): min over shingles of md5(seed|shingle)."""
    return (
        sh.select(
            "doc_id",
            "shingle",
            F.explode(F.sequence(F.lit(0), F.lit(N_HASHES - 1))).alias("seed"),
        )
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("shingle")))
            ).alias("mh")
        )
    )


def lsh_band_signatures(sig: DataFrame) -> DataFrame:
    """Fold minhash rows into per-band signatures (doc_id, band, band_sig)."""
    banded = sig.withColumn("band", F.expr(f"seed div {BAND_ROWS}"))
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
    )
    return banded.groupBy("doc_id", "band").agg(
        F.md5(F.array_join(ordered, ",")).alias("band_sig")
    )


def range_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """All (interval row, point row) pairs with ``start <= ts < end``,
    no equi-key.  Both sides bucketed to ``bucket_seconds``-wide epochs
    so the candidate join is a bounded bucket equi-join (a point
    occupies exactly one bucket, so every pair comes out once).
    Returns intervals' columns + points' columns; callers aggregate on
    top.  Column names must not collide."""
    b = F.lit(int(bucket_seconds)).cast("long")
    iv = intervals.withColumn(
        "__rng_bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                # end is exclusive; a point in the end-instant bucket can
                # still precede it, so include that bucket
                (F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn(
        "__rng_bucket", (F.unix_timestamp(F.col(ts_col)) / b).cast("long")
    )
    joined = iv.join(pt, "__rng_bucket").filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return joined.drop("__rng_bucket")


def cer(predictions: DataFrame, ground_truth: DataFrame) -> DataFrame:
    """Character error rate per document: levenshtein(gt, pred)/len(gt)
    over normalized lowercase text; native expressions only."""
    norm = lambda c: F.lower(F.regexp_replace(c, r"\s+", " "))  # noqa: E731
    joined = predictions.alias("p").join(ground_truth.alias("g"), "doc_id", "inner")
    gt = norm(F.col("g.text"))
    pred = norm(F.col("p.text"))
    return joined.select(
        "doc_id",
        F.round(F.levenshtein(gt, pred).cast("double") / F.length(gt), 6).alias("cer"),
        F.length(gt).cast("long").alias("gt_len"),
    )


def cer_summary(cer_df: DataFrame) -> DataFrame:
    return cer_df.agg(
        F.round(F.expr("percentile(cer, 0.5)"), 6).alias("median_cer"),
        F.round(F.avg("cer"), 6).alias("mean_cer"),
        F.count("*").alias("n_docs"),
    )


def text_tiling_hof(documents: DataFrame, block_tokens: int) -> DataFrame:
    """``textstats.text_tiling`` as nested JVM higher-order functions
    over the token array: per gap, the two blocks' term counts, dot
    product and squared norms in exact int64, the boundary rule
    ``4·dot² < Σl²·Σr²`` and ``floor(dot²·1e9 / (Σl²·Σr²))`` ppb."""
    w = block_tokens
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    n_blocks = F.ceil(n_tokens / F.lit(w)).cast("int")

    def _cnt(arr, t):
        return F.size(F.filter(arr, lambda e: e == t)).cast("long")

    def _gap(g):
        left = F.slice(tokens, (g - 1) * w + 1, w)
        right = F.slice(tokens, g * w + 1, w)
        dot = F.aggregate(
            F.array_distinct(left),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(left, t) * _cnt(right, t),
        )
        ss_l = F.aggregate(
            F.array_distinct(left),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(left, t) * _cnt(left, t),
        )
        ss_r = F.aggregate(
            F.array_distinct(right),
            F.lit(0).cast("long"),
            lambda acc, t: acc + _cnt(right, t) * _cnt(right, t),
        )
        sim2_ppb = F.floor(
            (dot * dot * F.lit(1_000_000_000)).cast("double") / (ss_l * ss_r)
        ).cast("long")
        return F.struct(
            g.cast("int").alias("gap"),
            sim2_ppb.alias("sim2_ppb"),
            (4 * dot * dot < ss_l * ss_r).alias("boundary"),
        )

    gaps = F.when(
        n_blocks >= 2,
        F.transform(F.sequence(F.lit(1), n_blocks - 1), _gap),
    ).otherwise(
        F.array().cast(
            "array<struct<gap:int,sim2_ppb:bigint,boundary:boolean>>"
        )
    )
    bounds = F.filter(gaps, lambda s: s["boundary"])
    return documents.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_blocks.alias("n_blocks"),
        F.size(bounds).alias("n_boundaries"),
        (F.size(bounds) + 1).alias("n_segments"),
        F.array_join(
            F.transform(bounds, lambda s: s["gap"].cast("string")), ","
        ).alias("boundaries"),
        F.array_join(
            F.transform(gaps, lambda s: s["sim2_ppb"].cast("string")), ","
        ).alias("gap_sims_ppb"),
    )


def articles(spans: pd.DataFrame) -> pd.DataFrame:
    """Group each title and the spans that follow it into one article."""
    df = spans.sort_values(["doc_id", "order"]).copy()
    is_t = df["kind"] == "title"
    df["article_id"] = is_t.astype(int).groupby(df["doc_id"]).cumsum()
    rows = []
    for (doc_id, aid), g in df.groupby(["doc_id", "article_id"], sort=True):
        title = g.loc[g["kind"] == "title", "text"]
        content = g.loc[g["kind"].isin(["text", "table"]), "text"]
        media = [m for m in g["media_ref"] if m]
        rows.append(
            {
                "doc_id": doc_id,
                "article_id": int(aid),
                "title": title.iloc[0] if len(title) else None,
                "content": "\n\n".join(content),
                "media_refs": media,
                "n_spans": len(g),
            }
        )
    return pd.DataFrame.from_records(rows)


def normalize_text_pd(s: pd.Series) -> pd.Series:
    out = s.fillna("")
    for lig, rep in LIGATURES:
        out = out.str.replace(lig, rep, regex=False)
    out = out.str.replace("-\n", "", regex=False)
    out = out.str.replace(r"\n{2,}", PARA_MARKER, regex=True)
    out = out.str.replace("\n", " ", regex=False)
    out = out.str.replace(PARA_MARKER, "\n\n", regex=False)
    out = out.str.replace(r" {2,}", " ", regex=True)
    return out.str.strip()


def is_title_pd(s: pd.Series) -> pd.Series:
    letters = s.str.replace(r"[^A-Z]", "", regex=True)
    vowels = letters.str.replace(r"[^AEIOU]", "", regex=True)
    return (s == s.str.upper()) & (letters.str.len() >= 5) & (vowels.str.len() >= 2)


def strip_fences_pd(s: pd.Series) -> pd.Series:
    out = s.fillna("").str.strip("`")
    return out.str.replace("tsv", "", n=1, regex=False).str.strip()


def merge_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """L9 merge, L9b second y2 adjustment and L10 renumber over a frame
    sorted by (doc_id, page_block, column_number, reading_order): one
    index walk collects the runs, then each multi-box run writes its
    cells into a copy of the head rows."""
    n = len(pdf)
    doc = pd.factorize(pdf["doc_id"])[0]
    block = pdf["page_block"].to_numpy()
    col = pdf["column_number"].to_numpy()
    is_text = (pdf["kind"] == "text").to_numpy()
    y1 = pdf["y1"].to_numpy()
    y2 = pdf["y2"].to_numpy()
    colw = pdf["column_width"].to_numpy()

    heads: list[int] = []
    members: list[list[int]] = []
    acc = -1  # index into heads/members of the open run, -1 = none
    acc_head = -1
    for i in range(n):
        mergeable = is_text[i] and col[i] != 0
        if not mergeable:
            acc = -1
            heads.append(i)
            members.append([i])
            continue
        same_group = (
            acc != -1
            and doc[i] == doc[acc_head]
            and block[i] == block[acc_head]
            and col[i] == col[acc_head]
        )
        if same_group and (y2[i] - y1[acc_head]) <= MERGE_WIDTH_MULTIPLIER * colw[i]:
            members[acc].append(i)
        else:
            heads.append(i)
            members.append([i])
            acc = len(heads) - 1
            acc_head = i
    out = pdf.iloc[heads].copy()
    multi = [(j, m) for j, m in enumerate(members) if len(m) > 1]
    if multi:
        texts = pdf["text"].to_numpy()
        x1a = pdf["x1"].to_numpy()
        x2a = pdf["x2"].to_numpy()
        conf = pdf["confidence"].to_numpy()
        oc = {c: out.columns.get_loc(c) for c in ("text", "x1", "x2", "y2", "confidence")}
        for j, m in multi:
            out.iat[j, oc["text"]] = "\n\n".join(texts[m])
            out.iat[j, oc["x1"]] = x1a[m].min()
            out.iat[j, oc["x2"]] = x2a[m].max()
            out.iat[j, oc["y2"]] = y2[m[-1]]
            out.iat[j, oc["confidence"]] = conf[m].max()
    if len(out) > 1:
        doc_o = pd.factorize(out["doc_id"])[0]
        blk_o = out["page_block"].to_numpy()
        col_o = out["column_number"].to_numpy()
        same = (
            (doc_o[:-1] == doc_o[1:])
            & (blk_o[:-1] == blk_o[1:])
            & (col_o[:-1] == col_o[1:])
        )
        y1_o = out["y1"].to_numpy()
        y2_o = out["y2"].to_numpy().copy()
        y2_o[:-1] = np.where(same, y1_o[1:], y2_o[:-1])
        out["y2"] = y2_o
    out["reading_order"] = out.groupby("doc_id", sort=False).cumcount() + 1
    return out


def post_correct(kind: pd.Series, text: pd.Series) -> pd.Series:
    """T1 over the batch's columns: fence-strip tables, normalize
    everything but figures."""
    out = text.copy()
    is_table = kind == "table"
    is_norm = ~is_table & (kind != "figure")
    if is_table.any():
        out[is_table] = strip_fences_pd(text[is_table])
    if is_norm.any():
        out[is_norm] = normalize_text_pd(text[is_norm])
    return out


def spans_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """T2–T5 over merged, post-corrected boxes: explode the paragraphs,
    reclass, then join each title run with a groupby."""
    df = pdf[["doc_id", "kind", "text", "media_ref", "reading_order"]].reset_index(
        drop=True
    )
    sp = df["kind"].isin(("text", "title"))
    plist = pd.Series(
        np.where(sp, df["text"].str.split("\n\n"), df["text"].map(lambda t: [t])),
        index=df.index,
    )
    df = df.assign(_parts=plist, _sp=sp).explode("_parts")
    df["sub_order"] = df.groupby(level=0).cumcount()
    stripped = df["_parts"].str.strip()
    df["text"] = stripped.where(df["_sp"], df["_parts"])
    df = df[~df["_sp"] | (df["text"].str.len() > 0)]
    reclass = (df["kind"] == "text") & is_title_pd(df["text"])
    if reclass.any():
        df = df.copy()
        df.loc[reclass, "kind"] = "title"
    df = df.reset_index(drop=True)
    new_run = df["doc_id"].ne(df["doc_id"].shift()) | df["kind"].ne(df["kind"].shift())
    run = new_run.cumsum()
    is_title_row = (df["kind"] == "title").to_numpy()
    if is_title_row.any():
        joined = df.loc[is_title_row].groupby(run[is_title_row])["text"].agg("\n".join)
        first_of_run = (~run.duplicated()).to_numpy()
        df = df.copy()
        head = is_title_row & first_of_run
        df.loc[head, "text"] = run[head].map(joined).to_numpy()
        df = df[~is_title_row | first_of_run].reset_index(drop=True)
    df["order"] = (df.groupby("doc_id", sort=False).cumcount() + 1).astype("int32")
    return df[["doc_id", "kind", "text", "media_ref", "order"]]
