"""Output checks.  Each returns a list of problems; empty means correct."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

from inputs import EVAL_MODULUS

EVAL_NGRAM = 13  # web_corpus_refinement.json: decontaminate n


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    return v


def rows_digest(leaves: dict[str, list[dict]]) -> str:
    """Order-independent digest of collected leaf rows (floats to 9
    significant digits, so summation order cannot move it)."""
    h = hashlib.sha256()
    for name in sorted(leaves):
        lines = sorted(json.dumps(_canon(r), sort_keys=True, default=str) for r in leaves[name])
        h.update(name.encode())
        h.update("\n".join(lines).encode())
    return h.hexdigest()[:16]


def _grams(text: str) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + EVAL_NGRAM]) for i in range(len(toks) - EVAL_NGRAM + 1)}


def corpus(leaves: dict[str, list[dict]], in_dir: str, pinned: str | None) -> list[str]:
    """Survivors are input docs, none from the blocklisted host, none still
    carrying an eval-slice 13-gram; the digest matches the pin if any."""
    docs = pd.read_parquet(os.path.join(in_dir, "documents.parquet"))
    problems = []
    ids = set(docs["doc_id"])
    blocked = set(docs.loc[docs["lang"] == "zz", "doc_id"])
    eval_grams: set = set()
    for t in docs.loc[docs["doc_id"] % EVAL_MODULUS == 0, "text"]:
        eval_grams |= _grams(t)
    survivors = leaves.get("policy", [])
    if not survivors:
        problems.append("corpus: no survivors")
    for r in survivors:
        if r["doc_id"] not in ids:
            problems.append(f"corpus: survivor {r['doc_id']} is not an input doc")
        if r["doc_id"] in blocked:
            problems.append(f"corpus: survivor {r['doc_id']} comes from the blocklisted host")
        if _grams(r["clean"]) & eval_grams:
            problems.append(f"corpus: survivor {r['doc_id']} still overlaps the eval slice")
    if {r["doc_id"] for r in leaves.get("quality", [])} - ids:
        problems.append("corpus: quality leaf has unknown doc ids")
    if pinned is not None and rows_digest(leaves) != pinned:
        problems.append(f"corpus: output digest {rows_digest(leaves)} != pinned {pinned}")
    return problems


_STAR_REVENUE = """
  WITH f AS (
    SELECT s.*, round(s.price * s.qty * (1 - s.discount), 2) AS revenue
    FROM '{d}/sales.parquet' s WHERE s.qty >= 2 AND s.discount < 0.09),
  j AS (
    SELECT f.*, c.segment, r.region, p.category
    FROM f JOIN '{d}/customers.parquet' c USING (cust_id)
           JOIN '{d}/regions.parquet' r USING (region_id)
           JOIN '{d}/products.parquet' p USING (prod_id)
    WHERE p.list_price > 5)
"""


def star_reference(in_dir: str) -> tuple[pd.DataFrame, dict]:
    """The summary rows and per-region row counts, computed by DuckDB over
    the generated parquet."""
    con = duckdb.connect()
    base = _STAR_REVENUE.format(d=in_dir)
    want = con.execute(
        base + "SELECT segment, category, count(*) n, sum(qty) units, sum(revenue) revenue "
        "FROM j GROUP BY ALL ORDER BY segment, category"
    ).df()
    want_parts = dict(con.execute(base + "SELECT region, count(*) FROM j GROUP BY region").fetchall())
    con.close()
    return want, want_parts


def star(leaves: dict[str, list[dict]], out_dir: str, reference: tuple[pd.DataFrame, dict]) -> list[str]:
    """The summary leaf and the sink's per-region row counts against the
    DuckDB reference (``star_reference``)."""
    want, want_parts = reference
    got = pd.DataFrame(leaves.get("ranked", []))
    problems = []
    if list(zip(got.get("segment", []), got.get("category", []))) != list(zip(want.segment, want.category)):
        problems.append("star: summary keys or order differ from DuckDB")
    else:
        if list(got.n) != list(want.n) or list(got.units) != list(want.units):
            problems.append("star: summary counts differ from DuckDB")
        # per-row round() may break a tie differently: allow 1 cent per row
        for g, w, n in zip(got.revenue, want.revenue, want.n):
            if not math.isclose(g, w, abs_tol=0.01 * n):
                problems.append(f"star: revenue {g} != {w}")
                break
    con = duckdb.connect()
    got_parts = {}
    for part in sorted(glob.glob(os.path.join(out_dir, "sales_by_region", "region=*"))):
        files = glob.glob(os.path.join(part, "*.parquet"))
        got_parts[part.rsplit("=", 1)[1]] = (
            con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0] if files else 0
        )
    if got_parts != want_parts:
        problems.append(f"star: sink partition counts {got_parts} != {want_parts}")
    con.close()
    return problems


def events_reference(table: pd.DataFrame, n_values: int, keys: int) -> pd.DataFrame:
    """Per-label count, sum, min and max of the rate values 0 .. n_values-1
    that join the static table on ``value % keys`` and pass the filter.
    Computed per key in closed form, so it costs nothing at high rates: the
    values with key k are k, k + keys, ..., an arithmetic series."""
    table = table[table["props"].map(lambda p: json.loads(p)["w"]) >= 3]
    k = table["key"].astype("int64")
    count = ((n_values - k + keys - 1) // keys).clip(lower=0)
    per_row = pd.DataFrame({
        "label": "g" + table["grp"].astype(str),
        "n": count,
        "total": count * k + keys * count * (count - 1) // 2,
        "first_v": k.where(count > 0),
        "last_v": (k + keys * (count - 1)).where(count > 0),
    })
    per_row = per_row[per_row["n"] > 0]
    return per_row.groupby("label").agg(n=("n", "sum"), total=("total", "sum"),
                                         first_v=("first_v", "min"), last_v=("last_v", "max")).sort_index()


def events(sink: pd.DataFrame, in_dir: str, rate: int, keys: int, end_offsets: list[int]) -> list[str]:
    """The final per-label state of the update-mode sink against a reference
    over the events up to the last committed rate offset (or the offset
    logged for the batch in flight when the query stopped, whose rows the
    sink may already hold)."""
    if sink.empty:
        return ["events: sink is empty"]
    final = sink.sort_values("n").groupby("label").tail(1).set_index("label").sort_index()
    table = pd.read_parquet(os.path.join(in_dir, "event_table.parquet"))
    got = final[["n", "total", "first_v", "last_v"]]
    for end in end_offsets:
        ref = events_reference(table, end * rate, keys)
        if list(ref.index) == list(got.index) and (ref.values == got.values).all():
            return []
    return [f"events: final state matches no reference at rate offsets {end_offsets}"]
