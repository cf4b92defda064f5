"""The benchmark's workloads: which queries run, on which inputs, and
how each result is checked.

A workload object lives in two processes. The measured driver uses its
query list, order and flags. The checker process (``checker.py``) calls
``prepare``, ``begin_round``, ``check`` and ``self_check``, so that the
table rewrites, DuckDB and the canonicalisation never run inside the
process whose memory and CPU are measured."""

from __future__ import annotations

import os
import re
import shutil

import numpy as np

#: The benchmark's input tables: a copy of the engine's sf0.01 fixtures
#: (data seed 42), shipped with the benchmark so that it reads nothing
#: outside its checkout.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: Per-query figure from a query's timed repeats (see README).
STAT = min

FAMILIES = ("q", "s", "a", "w", "d", "l", "dq", "t", "u", "m", "io", "g")


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


class Workload:
    """Base: a pinned query list over fixture directory ``sf_dir``."""

    sf = "sf0.01"
    clear_cache = True
    #: How each timed repeat ends: "noop" sink, or "pandas" (then checked).
    round_sink = "noop"
    min_rounds = 1
    names: tuple[str, ...] = ()

    def __init__(self, tmp: str, seed: int):
        self.seed = seed
        self.sf_dir = os.path.join(DATA, self.sf)
        self.last_expected = None
        self.first: dict = {}
        self._con = None

    def prepare(self) -> None:
        pass

    def check_names(self, queries, oracles) -> None:
        missing = [n for n in self.names if n not in queries]
        no_oracle = [n for n in self.names if n not in oracles]
        if missing or no_oracle:
            raise SystemExit(f"workload lists unknown {missing} or oracle-less {no_oracle} queries")

    def order(self, rnd: int) -> list[str]:
        """The workload's queries in a seeded order for round ``rnd``;
        every round runs each query exactly once."""
        rng = np.random.default_rng([self.seed, rnd])
        return [self.names[i] for i in rng.permutation(len(self.names))]

    def begin_round(self, rnd: int) -> None:
        pass

    def con(self):
        if self._con is None:
            import oracle

            self._con = oracle.connect(self.sf_dir)
        return self._con

    def check(self, name: str, got, sql: str) -> tuple[str | None, bool]:
        """(why ``got``, a query's pandas output, is wrong or None;
        whether a wrong answer is the fault this workload keeps). The
        first answer checked for each query is kept for comparison."""
        import oracle  # DuckDB: only ever loaded in the checker process

        canon = oracle.canonical(got)
        want = oracle.canonical(self.con().execute(sql).df())
        self.last_expected = want
        first = self.first.setdefault(name, canon)
        err = oracle.diff(canon, want)
        return err, err is not None and self.known_fault(name, canon, first)

    def known_fault(self, name: str, got, first) -> bool:
        return False

    def self_check(self) -> bool | None:
        """Whether one deliberately perturbed oracle result is rejected
        by the comparison; None when nothing has been checked yet."""
        import oracle

        if self.last_expected is None:
            return None
        return oracle.diff(oracle.perturb(self.last_expected), self.last_expected) is not None


WORKLOADS: dict[str, type[Workload]] = {}


def workload(name):
    def deco(cls):
        WORKLOADS[name] = cls
        return cls

    return deco


@workload("light_sf0.01")
class Light(Workload):
    """The cheapest queries at sf0.01, one per family, some drawn by the
    seed from a cost-matched pair; cache cleared between queries."""

    #: Per family, the cheapest oracle-backed query by reference cost,
    #: paired with the next cheapest when that one costs at most 20%
    #: more (README). The seed picks one query of each pair.
    GROUPS = (
        ("q25_limit_offset", "q15_pagination"),
        ("s10_explode_unnest", "s22_outer_explode"),
        ("a5_unpivot",),
        ("w6_global_topk",),
        ("d7_scd_latest", "d4_adjustment_factor"),
        ("l23_stratified_sample", "l15_bpe_token_count"),
        ("dq13_completeness_grid", "dq8_duplicate_events"),
        ("t1_tumbling_window", "t2_sliding_window"),
        ("u2_pandas_scalar_udf",),
        ("m3_embedding_batch_score",),
        ("io1_csv_roundtrip", "io10_gzip_csv_roundtrip"),
        ("g5_degree_histogram",),
    )
    min_rounds = 2

    def __init__(self, tmp, seed):
        super().__init__(tmp, seed)
        rng = np.random.default_rng([seed, 0x11647])
        self.names = tuple(g[int(rng.integers(0, len(g)))] for g in self.GROUPS)
        assert sorted(family(n) for n in self.names) == sorted(FAMILIES)


@workload("refresh_sf0.01")
class Refresh(Workload):
    """One long-lived session that never clears its cache. Each round
    rewrites a working copy of the tables in place, then runs and checks
    every query on the files as they now are."""

    clear_cache = False
    round_sink = "pandas"
    min_rounds = 3
    #: Queries whose plans read a persisted frame, then io round trips.
    STALE_PRONE = (
        "g3_triangle_estimate",
        "d47_basket_lift",
        "d81_portfolio_turnover",
        "l8_simhash_fingerprints",
    )
    ROUND_TRIPS = ("io1_csv_roundtrip", "io17_text_roundtrip")
    names = STALE_PRONE + ROUND_TRIPS
    #: table → key column; a rewrite keeps a seeded 3/4 of the keys.
    REWRITTEN = {
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "events": "user_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
    }
    KEEP = 0.75

    def __init__(self, tmp, seed):
        super().__init__(tmp, seed)
        self.base_dir = self.sf_dir
        self.sf_dir = os.path.join(tmp, "work")

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        shutil.copytree(self.base_dir, self.sf_dir)
        self.base = {
            t: pq.read_table(os.path.join(self.base_dir, f"{t}.parquet")) for t in self.REWRITTEN
        }

    def begin_round(self, rnd: int) -> None:
        """Rewrite each table in place with a subset chosen by (seed, round)."""
        rng = np.random.default_rng([self.seed, rnd])
        for t, key in self.REWRITTEN.items():
            tab = self.base[t]
            keys = tab[key].to_numpy()
            keep = rng.random(int(keys.max()) + 1) < self.KEEP
            write_table(tab.filter(keep[keys]), os.path.join(self.sf_dir, f"{t}.parquet"))

    def known_fault(self, name: str, got, first) -> bool:
        """A stale answer: plans that persist() an intermediate and never
        release it leave it in Spark's CacheManager, which then serves
        the first pass's data after the files are rewritten. Counted as
        a failed operation; any other wrong answer is not this fault."""
        return name in self.STALE_PRONE and got == first


def write_table(table, path: str) -> None:
    """Write one table as a single row group, like the fixtures,
    atomically replacing ``path``."""
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp"
    pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1), compression="snappy")
    os.replace(tmp, path)
