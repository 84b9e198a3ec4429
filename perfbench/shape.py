"""Print the data shapes that drive the operators' costs, for a directory of
fixture tables next to the benchmark's generated tables.

    python3 perfbench/shape.py <dir with the ten <table>.parquet files> [--seed 42]

The generated side is `fixture.generate(seed, 0.01)`, so the directory
should hold sf0.01 tables. Each line is one statistic: the directory's
value, then the generated one.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow.parquet as pq

import fixture

TABLES = (
    "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings",
)


def _q(a, qs=(0.0, 0.5, 1.0)) -> str:
    return "/".join(f"{v:.4g}" for v in np.quantile(np.asarray(a, float), qs))


def shape(t: dict) -> dict[str, str]:
    """Shape statistics of pandas DataFrames keyed by table name."""
    out = {f"rows.{n}": str(len(t[n])) for n in TABLES}
    o, l, c = t["orders"], t["lineitem"], t["customer"]
    out["orders per customer min/p50/max"] = _q(o.o_custkey.value_counts())
    out["lines per order min/p50/max"] = _q(l.l_orderkey.value_counts())
    out["lines per part min/p50/max"] = _q(l.l_partkey.value_counts())
    out["l_extendedprice min/p50/max"] = _q(l.l_extendedprice)
    out["corr(l_quantity, l_extendedprice)"] = (
        f"{np.corrcoef(l.l_quantity, l.l_extendedprice)[0, 1]:.2f}"
    )
    ship = (l.l_shipdate - np.datetime64("1995-01-01")).dt.days
    out["l_shipdate day min/p50/max"] = _q(ship)
    out["o_orderdate distinct days"] = str(o.o_orderdate.nunique())
    out["c_acctbal min/p50/max"] = _q(c.c_acctbal)
    ev = t["events"]
    out["events per user min/p50/max"] = _q(ev.user_id.value_counts())
    out["event value p10/p50/p90/max"] = _q(ev.value, (0.1, 0.5, 0.9, 1.0))
    out["event types"] = str(ev.event_type.nunique())
    docs = t["documents"]
    words = docs.text.str.split().tolist()
    out["doc words min/p50/max"] = _q([len(w) for w in words])
    out["doc vocabulary"] = str(len({x for w in words for x in w}))
    out["exact duplicate docs"] = str(len(docs) - docs.text.nunique())
    shingles = [set(zip(w, w[1:], w[2:])) for w in words]
    near = set()
    for i, a in enumerate(shingles):
        for j in range(i + 1, len(shingles)):
            b = shingles[j]
            if a and b and len(a & b) >= 0.8 * len(a | b):
                near.update((i, j))
    out["docs in a 3-shingle jaccard >= 0.8 pair"] = str(len(near))
    out["doc langs (en share)"] = (
        f"{docs.lang.nunique()} ({(docs.lang == 'en').mean():.2f})"
    )
    e = t["embeddings"]
    x = np.stack(e.embedding.to_numpy())
    sim = x @ x.T
    np.fill_diagonal(sim, -2.0)
    out["embedding dim"] = str(x.shape[1])
    out["embedding nearest cosine p10/p50/p90"] = _q(sim.max(1), (0.1, 0.5, 0.9))
    out["nearest neighbour shares label"] = (
        f"{(e.label.values[sim.argmax(1)] == e.label.values).mean():.2f}"
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dir")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    given = shape(
        {n: pq.read_table(os.path.join(args.dir, f"{n}.parquet")).to_pandas() for n in TABLES}
    )
    made = shape({n: v.to_pandas() for n, v in fixture.generate(args.seed, 0.01).items()})
    width = max(map(len, given))
    print(f"{'statistic':{width}}  {'given':>22}  {'generated':>22}")
    for k, v in given.items():
        print(f"{k:{width}}  {v:>22}  {made[k]:>22}")


if __name__ == "__main__":
    main()
