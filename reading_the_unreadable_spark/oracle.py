"""Single-process pandas oracle for the extraction pipeline.

This is the *specification*: a straightforward eager-pandas implementation
of the same extraction semantics the Spark pipeline
(:mod:`reading_the_unreadable_spark.plans.pipeline`) implements
distributed.  Tests assert exact per-document span-sequence equality
(kind, text, media_ref, order) between the two.

Pipeline semantics (behavioral contract derived from the reference, see
SURVEY.md §3.2/§3.3; reimplemented from scratch):

Stage L (layout, per page):
  L0  class normalization: 'plain text' → 'text' (the raw DocLayout-YOLO
      label) — reference ``pipeline_stages.py:193-195``
  L1  print area = min/max of all box coordinates
      (note on reference parity: the reference's "center_x"/"center_y"
      are computed as width+x1 / height+y1 — i.e. x2/y2, not centers
      (``bbox_functions.py:667-668``) — and feed its abandon mask and
      some sort keys.  This engine uses true geometric semantics per
      SURVEY §3.2; the difference is observable only for boxes that
      straddle a threshold/sort boundary, and our synthesized corpora +
      oracles use the same semantics on both sides.)
  L2  abandon reclassification: boxes whose center_y falls at/under the
      max-y2 of abandon boxes in the top 10% of the print area become
      abandon; all abandon boxes are dropped
  L3  print area recomputed; column_count = floor(print_width / median
      width of text boxes), ≥1; column_width = print_width / column_count
  L4  column assignment: k evenly spaced bins over the print width
      (epsilon-padded); a box belongs to every bin it overlaps by ≥10% of
      its own width; >1 bin ⇒ column 0 (full-width separator), else the
      1-based bin index; each box records its column edges c1/c2 (the
      owning bin's edges, or the print-area edges for column 0)
  L4a non-canonical-class relabel: any kind outside {figure, table, text}
      becomes title (abandon already dropped at L2) — reference
      ``bbox_functions.py:852-856``
  L5  page blocks: boxes sorted by (y1, offset); block id = running count
      of column-0 separator boxes (separator starts its own block)
  L6  exact-duplicate removal: identical (x1,y1,x2,y2) rounded to 6dp
      within a page keep the highest confidence (tie: lowest offset)
  L7  reading order = rank over (block, column, y1, offset)
  L8  y2 adjustment: within (block, column) ordered by (y1, offset),
      y2 := next box's y1 (last box keeps its own)
  L8a x widening: non-figure boxes extend to their column edges
      (x1 := min(x1, c1), x2 := max(x2, c2)) — reference
      ``bbox_functions.py:614-646``
  L8b min-height filter: boxes whose post-adjust height < 10 are dropped
      — reference ``bbox_functions.py:870-871``
  L9  merge run of consecutive text boxes within (block, column>0) while
      the merged span height stays ≤ 1.5 × column_width; texts joined
      with a paragraph break; merged box keeps the first box's identity
      and the max confidence
  L9b second y2 adjustment over the merged/filtered boxes (reference
      re-runs adjust_y2_coordinates after the merge pass)
  L10 reading order renumbered

Stage T (text / articles):
  T1  tables: markdown-fence + first-'tsv' strip; other text: ligature
      fixes, dehyphenation, line-break merging (functions/text.py)
  T2  text & title spans split on paragraph breaks; empty parts dropped;
      sub_order = part index; figures/tables stay whole
  T3  ALL-CAPS title heuristic reclassifies text paragraphs to titles
  T4  adjacent title rows (in reading order) merge, newline-joined
  T5  final order = rank over (reading_order, sub_order), 1-based
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .functions.text import is_title, normalize_text, strip_fences
from .synth import page_arrays

MERGE_WIDTH_MULTIPLIER = 1.5
ABANDON_TOP_FRACTION = 0.1
MIN_OVERLAP_FRACTION = 0.1
BIN_EPSILON = 0.001


# --------------------------------------------------------------------- helpers
def docs_to_boxes(docs: pd.DataFrame) -> pd.DataFrame:
    """Explode docs(doc_id, spans) to one row per span + derived geometry."""
    recs = []
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        geo = page_arrays(doc_id)
        by_offset = {int(o): i for i, o in enumerate(geo["offset"])}
        for sp in spans:
            i = by_offset[int(sp["offset"])]
            recs.append(
                {
                    "doc_id": doc_id,
                    "offset": int(sp["offset"]),
                    "kind": sp["kind"],
                    "text": sp["text"] if sp["text"] is not None else "",
                    "media_ref": sp["media_ref"],
                    "x1": float(geo["x1"][i]),
                    "y1": float(geo["y1"][i]),
                    "x2": float(geo["x2"][i]),
                    "y2": float(geo["y2"][i]),
                    "confidence": float(geo["confidence"][i]),
                }
            )
    return pd.DataFrame.from_records(recs)


def _layout_page(g: pd.DataFrame, fill_columns: bool = False) -> pd.DataFrame:
    g = g.sort_values("offset").reset_index(drop=True)
    # L0 'plain text' → 'text' class normalization (pipeline_stages.py:193-195)
    g.loc[g["kind"] == "plain text", "kind"] = "text"
    # L1 print area
    px1, py1 = g["x1"].min(), g["y1"].min()
    px2, py2 = g["x2"].max(), g["y2"].max()
    ph = py2 - py1
    center_y = (g["y1"] + g["y2"]) / 2.0
    # L2 abandon reclassification + drop
    thr = py1 + ABANDON_TOP_FRACTION * ph
    top_abandon = g[(g["kind"] == "abandon") & (center_y <= thr)]
    if len(top_abandon):
        abandon_line = top_abandon["y2"].max()
        g = g[~(center_y <= abandon_line)]
    g = g[g["kind"] != "abandon"].reset_index(drop=True)
    if g.empty:
        return g.assign(
            column_number=pd.Series(dtype=int),
            page_block=pd.Series(dtype=int),
            reading_order=pd.Series(dtype=int),
            column_width=pd.Series(dtype=float),
        )
    # L3 recompute + column count
    px1, px2 = g["x1"].min(), g["x2"].max()
    pw = px2 - px1
    widths = (g["x2"] - g["x1"])[g["kind"] == "text"]
    med = widths.median() if len(widths) else np.nan
    k = int(np.floor(pw / med)) if med and med > 0 and not np.isnan(med) else 1
    k = max(k, 1)
    col_w = pw / k
    # L4 column assignment
    edges = np.array([px1 + i * (pw + BIN_EPSILON) / k for i in range(k + 1)])
    bx1 = g["x1"].to_numpy()[:, None]
    bx2 = g["x2"].to_numpy()[:, None]
    ov = np.minimum(bx2, edges[None, 1:]) - np.maximum(bx1, edges[None, :-1])
    bw = (g["x2"] - g["x1"]).to_numpy()[:, None]
    hits = ov >= MIN_OVERLAP_FRACTION * bw
    n_hits = hits.sum(axis=1)
    first_bin = hits.argmax(axis=1) + 1
    g["column_number"] = np.where(n_hits > 1, 0, np.where(n_hits == 1, first_bin, 0))
    g["column_width"] = col_w
    single = g["column_number"].to_numpy() >= 1
    cidx = np.where(single, g["column_number"].to_numpy(), 1).astype(int)
    g["c1"] = np.where(single, edges[cidx - 1], px1)
    g["c2"] = np.where(single, edges[cidx], px2)
    # L4a relabel non-canonical classes to title
    g.loc[~g["kind"].isin(["figure", "table", "text"]), "kind"] = "title"
    # L5 page blocks
    g = g.sort_values(["y1", "offset"]).reset_index(drop=True)
    g["page_block"] = (g["column_number"] == 0).cumsum()
    # L6 exact-duplicate removal (keep max confidence, tie lowest offset)
    g["_rx1"] = g["x1"].round(6)
    g["_ry1"] = g["y1"].round(6)
    g["_rx2"] = g["x2"].round(6)
    g["_ry2"] = g["y2"].round(6)
    g = g.sort_values(
        ["_rx1", "_ry1", "_rx2", "_ry2", "confidence", "offset"],
        ascending=[True, True, True, True, False, True],
    )
    g = g.drop_duplicates(subset=["_rx1", "_ry1", "_rx2", "_ry2"], keep="first")
    g = g.drop(columns=["_rx1", "_ry1", "_rx2", "_ry2"])
    # L7 reading order
    g = g.sort_values(["page_block", "column_number", "y1", "offset"]).reset_index(
        drop=True
    )
    g["reading_order"] = np.arange(1, len(g) + 1)
    # L8 y2 adjustment within (block, column)
    g = g.sort_values(["page_block", "column_number", "y1", "offset"]).reset_index(
        drop=True
    )
    nxt = g.groupby(["page_block", "column_number"])["y1"].shift(-1)
    g["y2"] = nxt.fillna(g["y2"])
    # L8a widen non-figure boxes to their column edges
    nonfig = g["kind"] != "figure"
    g.loc[nonfig & (g["x1"] > g["c1"]), "x1"] = g["c1"]
    g.loc[nonfig & (g["x2"] < g["c2"]), "x2"] = g["c2"]
    g = g.drop(columns=["c1", "c2"])
    # L8a.5 optional in-chain column gap fill (reference default
    # fill_columns=True; ours False — see operators/layout.py)
    if fill_columns:
        eligible = (g["column_number"].max() > 1) and (g["page_block"].nunique() == 1)
        if eligible:
            dy1, dy2 = g["y1"].min(), g["y2"].max()
            new_rows = []
            for col in sorted(g.loc[g["column_number"] > 0, "column_number"].unique()):
                cg = g[g["column_number"] == col]
                top = cg.loc[cg["reading_order"].idxmin()]
                bot = cg.loc[cg["reading_order"].idxmax()]
                for y1v, y2v, src in (
                    (dy1, top["y1"], top),
                    (bot["y2"], dy2, bot),
                ):
                    if y2v > y1v:
                        r = src.to_dict()
                        r.update(
                            offset=-1,
                            kind="text",
                            text="",
                            media_ref=None,
                            confidence=0.0,
                            y1=y1v,
                            y2=y2v,
                            reading_order=-1,
                        )
                        new_rows.append(r)
            if new_rows:
                g = pd.concat(
                    [g, pd.DataFrame.from_records(new_rows)], ignore_index=True
                )
    # L8b min-height sliver filter
    g = g[(g["y2"] - g["y1"]) >= 10.0].reset_index(drop=True)
    if g.empty:
        return g
    # L9 merge consecutive text boxes within (block, column>0)
    # (sorted by (y1, offset) — identical to reading_order order for real
    # boxes, and the position synthesized gap boxes slot into)
    merged_rows = []
    for (_, col), grp in g.groupby(["page_block", "column_number"], sort=True):
        grp = grp.sort_values(["y1", "offset"])
        acc = None
        for _, row in grp.iterrows():
            r = row.to_dict()
            if col == 0 or r["kind"] != "text":
                if acc is not None:
                    merged_rows.append(acc)
                    acc = None
                merged_rows.append(r)
                continue
            if acc is None:
                acc = r
            elif (r["y2"] - acc["y1"]) <= MERGE_WIDTH_MULTIPLIER * r["column_width"]:
                acc["y2"] = r["y2"]
                acc["x1"] = min(acc["x1"], r["x1"])
                acc["x2"] = max(acc["x2"], r["x2"])
                acc["text"] = acc["text"] + "\n\n" + r["text"]
                acc["confidence"] = max(acc["confidence"], r["confidence"])
            else:
                merged_rows.append(acc)
                acc = r
        if acc is not None:
            merged_rows.append(acc)
    g = pd.DataFrame.from_records(merged_rows)
    # L9b second y2 adjustment over the merged/filtered boxes
    g = g.sort_values(["page_block", "column_number", "y1", "offset"]).reset_index(
        drop=True
    )
    nxt = g.groupby(["page_block", "column_number"])["y1"].shift(-1)
    g["y2"] = nxt.fillna(g["y2"])
    # L10 renumber (sorted by the same keys the L7 rank used — identical
    # to reading_order order for real boxes, and well-defined for the
    # fill-synthesized rows whose reading_order is the -1 placeholder)
    g = g.sort_values(["page_block", "column_number", "y1", "offset"]).reset_index(
        drop=True
    )
    g["reading_order"] = np.arange(1, len(g) + 1)
    return g


def layout(boxes: pd.DataFrame, fill_columns: bool = False) -> pd.DataFrame:
    out = []
    for _, g in boxes.groupby("doc_id", sort=True):
        out.append(_layout_page(g, fill_columns))
    return pd.concat(out, ignore_index=True)


def text_stage(g: pd.DataFrame) -> pd.DataFrame:
    """Stage T over the full ordered-boxes frame (vectorized pandas)."""
    df = g.copy()
    is_table = df["kind"] == "table"
    is_fig = df["kind"] == "figure"
    df.loc[is_table, "text"] = df.loc[is_table, "text"].fillna("").map(strip_fences)
    df.loc[~is_table & ~is_fig, "text"] = (
        df.loc[~is_table & ~is_fig, "text"].fillna("").map(normalize_text)
    )
    # T2 paragraph split for text/title kinds
    splittable = df["kind"].isin(["text", "title"])
    flat = df[splittable].copy()
    flat["text"] = flat["text"].str.split("\n\n")
    flat = flat.explode("text")
    flat["text"] = flat["text"].str.strip()
    flat["sub_order"] = flat.groupby(["doc_id", "reading_order"]).cumcount()
    flat = flat[flat["text"].str.len() > 0]
    whole = df[~splittable].copy()
    whole["sub_order"] = 0
    df = pd.concat([flat, whole], ignore_index=True)
    # T3 title heuristic (text paragraphs only; titles stay titles)
    caps = df["text"].fillna("").map(is_title).astype(bool)
    df.loc[(df["kind"] == "text") & caps, "kind"] = "title"
    # T4 merge adjacent titles
    df = df.sort_values(["doc_id", "reading_order", "sub_order"]).reset_index(drop=True)
    is_t = (df["kind"] == "title").astype(int)
    new_run = (
        (df["kind"] != df["kind"].shift())
        | (df["doc_id"] != df["doc_id"].shift())
    ).cumsum()
    df["_run"] = new_run
    agg_text = df.groupby("_run")["text"].transform(lambda s: "\n".join(s.astype(str)))
    first_in_run = df["_run"] != df["_run"].shift()
    keep = (is_t == 0) | first_in_run
    df.loc[df["kind"] == "title", "text"] = agg_text[df["kind"] == "title"]
    df = df[keep].drop(columns=["_run"]).reset_index(drop=True)
    # T5 final order
    df = df.sort_values(["doc_id", "reading_order", "sub_order"]).reset_index(drop=True)
    df["order"] = df.groupby("doc_id").cumcount() + 1
    return df


def extract(docs: pd.DataFrame, fill_columns: bool = False) -> pd.DataFrame:
    """Full pipeline: docs → flat extracted spans (doc_id, kind, text,
    media_ref, order)."""
    boxes = docs_to_boxes(docs)
    ordered = layout(boxes, fill_columns)
    spans = text_stage(ordered)
    out = spans[["doc_id", "kind", "text", "media_ref", "order"]].copy()
    out["media_ref"] = out["media_ref"].where(pd.notna(out["media_ref"]), None)
    return out.sort_values(["doc_id", "order"]).reset_index(drop=True)
