"""Output checks. They run outside every timed region; a timed operation
counts as failed when it raised or when its output fails a check here."""

from __future__ import annotations

import pickle
from pathlib import Path

import pandas as pd

import digest as DG

PIPELINE_STAGES = ("geocode", "tile_assign", "merge_order", "coregister",
                   "strip_assemble", "tile_rollup")


def _read_dir(path: Path) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def pipeline_state(workdir: Path, pages: pd.DataFrame) -> list[str]:
    """Invariants of a completed pipeline workdir against the input
    snapshot it last ran on (`pages`: doc_id, n_chars)."""
    bad = []
    out = workdir / "out"
    rollup = _read_dir(out / "tile_rollup")
    if int(rollup["n_pages"].sum()) != len(pages):
        bad.append(f"tile_rollup n_pages {int(rollup['n_pages'].sum())} "
                   f"!= {len(pages)} input pages")
    man = _read_dir(workdir / "manifest")
    for stage in PIPELINE_STAGES:
        rows = _read_dir(out / stage)
        written = rows.groupby(rows["unit"].astype(str)).size()
        # the last manifest row of a unit describes its current output
        last = (man[man["stage"] == stage]
                .drop_duplicates("unit", keep="last")
                .set_index("unit")["row_count"])
        wrong = [u for u, n in written.items() if last.get(u) != n]
        if wrong or len(last) != len(written):
            bad.append(f"{stage}: manifest row_count disagrees with the "
                       f"rows written for {len(wrong)} units")
    order = _read_dir(out / "merge_order")
    if len(order) != len(pages) or order["url"].nunique() != len(pages):
        bad.append(f"merge_order holds {len(order)} rows / "
                   f"{order['url'].nunique()} urls for {len(pages)} pages")
    geo = _read_dir(out / "geocode")
    want = dict(zip(pages["doc_id"], pages["n_chars"]))
    stale = sum(want.get(d) != n
                for d, n in zip(geo["doc_id"], geo["n_chars"]))
    if stale or len(geo) != len(pages):
        bad.append(f"geocode: {stale} of {len(geo)} rows disagree with "
                   f"the input snapshot")
    return bad


def unit_digests(workdir: Path) -> dict[str, dict[str, str]]:
    """stage -> unit -> digest of that unit's output rows."""
    out = {}
    for stage in PIPELINE_STAGES:
        pdf = _read_dir(workdir / "out" / stage)
        out[stage] = {str(u): DG.frame_digest(g.drop(columns=["unit"]))
                      for u, g in pdf.groupby("unit")}
    return out


def _oracles() -> dict[str, str]:
    """headline stage name -> live DuckDB oracle SQL (golden-file oracles
    and stages without a registered twin are left out)."""
    import __spark_entry__ as E
    import bench

    reg, sql = E.queries(), E.oracle_sql()
    out = {}
    for name, fn in bench.headline_queries().items():
        for qname, qfn in reg.items():
            if qfn is fn and qname in sql and "goldens" not in sql[qname]:
                out[name] = sql[qname]
    return out


def query_mix(rounds: list[dict], results: Path, corpus_dir: Path,
              stats: dict) -> dict[str, str]:
    """'round<r>.<stage>' -> failure reason, for every failed operation.
    Round 0 is checked against the DuckDB oracle where the stage has a
    live SQL twin, else against invariants; later rounds must reproduce
    round 0 exactly."""
    import duckdb

    n_vec = stats["vectors"]
    invariants = {
        "knn": lambda n: n <= 3 * stats["pages"],
        "ann_lsh": lambda n: n == 3 * n_vec,
        "ann_dedup": lambda n: n == 3 * round(
            n_vec * stats["distinct_vector_share"]),
        "strip_assembly_host": lambda n: n > 0,
    }
    oracles = _oracles()
    bad = {}
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{corpus_dir}/{t}.parquet')")
        for name, rec in rounds[0].items():
            if rec.get("error"):
                continue
            if name in oracles:
                with open(results / f"{name}.pkl", "rb") as f:
                    got = pickle.load(f)
                why = DG.frames_match(got, con.execute(oracles[name]).df())
                if why:
                    bad[f"round0.{name}"] = f"oracle mismatch: {why}"
            elif not invariants[name](rec["rows"]):
                bad[f"round0.{name}"] = f"invariant: {rec['rows']} rows"
    finally:
        con.close()
    for r, row in enumerate(rounds):
        for name, rec in row.items():
            if rec.get("error"):
                bad[f"round{r}.{name}"] = rec["error"].strip() \
                    .splitlines()[-1]
            elif r > 0 and rec["digest"] != rounds[0][name].get("digest"):
                bad[f"round{r}.{name}"] = "output differs from round 0"
    return bad
