"""Seeded inputs and their expected outputs, computed in plain Python.

Nothing here imports Spark or ``nemo_spark``: the expected rows come from a
second, independent implementation (union-find, BFS, set algebra), so a check
never reuses the code path it is checking. Every generator is a pure
function of its seed; the structure (sizes, depths, program shapes) is fixed,
so the cost of one op does not depend on the seed.
"""

from __future__ import annotations

import csv
import os
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ----------------------------------------------------------------- kg corpus

KG_TURNS = 1_000_000  # turns in the kg_build corpus
KG_COMPANION_TURNS = 100_000  # corpus for the kg layer calls of the rules workloads' traced runs
KG_FILES = 8  # parquet files, so the scan splits across the cores
N_ENTITIES = 60
N_AMBIGUOUS = 6  # aliases ``E.<k>`` that also name a second entity (merges clusters)
N_WORKS_AT = 80
N_PART_OF = 80
NO_RELATION_SHARE = 0.1
_ALIAS_FORMS = ("entity_{}", "ent-{}", "E.{}")
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey"
).split()


def _fillers(rng: np.random.Generator, n: int) -> list[str]:
    return [" ".join(rng.choice(_WORDS, size=int(rng.integers(2, 12)))) for _ in range(n)]


def kg_universe(seed: int) -> dict:
    """Alias dictionary plus the alias-level triples the corpus plants."""
    rng = np.random.default_rng([seed, 1])
    alias_rows = [(f.format(k), f"ent{k}") for k in range(N_ENTITIES) for f in _ALIAS_FORMS]
    for k in rng.choice(N_ENTITIES, size=N_AMBIGUOUS, replace=False):
        other = int((k + 1 + rng.integers(0, N_ENTITIES - 1)) % N_ENTITIES)
        alias_rows.append((f"E.{k}", f"ent{other}"))

    def alias(k: int) -> str:
        return _ALIAS_FORMS[int(rng.integers(0, 3))].format(k)

    triples: set[tuple[str, str, str]] = set()
    # located_in: a random forest whose chains are long enough that the
    # closure is several times the base relation
    order = rng.permutation(N_ENTITIES)
    for i in range(1, N_ENTITIES):
        parent = int(order[max(0, i - 1 - int(rng.integers(0, 3)))])
        for _ in range(int(rng.integers(1, 3))):
            triples.add((alias(int(order[i])), "located_in", alias(parent)))
    for pred, n in (("works_at", N_WORKS_AT), ("part_of", N_PART_OF)):
        for _ in range(n):
            s, o = rng.choice(N_ENTITIES, size=2, replace=False)
            triples.add((alias(int(s)), pred, alias(int(o))))
    return {"alias_rows": sorted(set(alias_rows)), "triples": sorted(triples)}


def write_kg_corpus(seed: int, n_turns: int, out_dir: str) -> dict:
    """Write ``transcripts/`` (parquet, KG_FILES files) and ``alias_dict/``
    under ``out_dir``; return the expected materialized triples."""
    uni = kg_universe(seed)
    rng = np.random.default_rng([seed, 2])
    triples = uni["triples"]
    sentences = pa.array([f"{s} {p} {o} ." for s, p, o in triples] + [""])
    pick = rng.integers(0, len(triples), size=n_turns)
    pick[rng.random(n_turns) < NO_RELATION_SHARE] = len(triples)  # the empty sentence
    prefixes = pa.array([w + " " for w in _fillers(rng, 64)])
    suffixes = pa.array([" " + w for w in _fillers(rng, 64)])
    text = pc.binary_join_element_wise(
        prefixes.take(pa.array(rng.integers(0, 64, size=n_turns))),
        sentences.take(pa.array(pick)),
        suffixes.take(pa.array(rng.integers(0, 64, size=n_turns))),
        "",
    )
    idx = np.arange(n_turns)
    # ~30% of turns in one hot conversation, the rest over 96 others
    conv = np.where(rng.random(n_turns) < 0.3, 0, rng.integers(1, 97, size=n_turns))
    role = pa.array(idx % 3)
    table = pa.table(
        {
            "conv_id": pa.array([f"conv{c:04d}" for c in range(97)]).take(pa.array(conv)),
            "turn_idx": pa.array(idx.astype(np.int32)),
            "role": pa.array(["user", "assistant", "tool"]).take(role),
            "text": text,
            "tool": pa.array([None, None, "search"], pa.string()).take(role),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + idx.astype("timedelta64[s]")
            ),
        }
    )
    tdir = os.path.join(out_dir, "transcripts")
    os.makedirs(tdir)
    bounds = np.linspace(0, n_turns, KG_FILES + 1).astype(int)
    for i in range(KG_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{tdir}/part-{i}.parquet")
    adir = os.path.join(out_dir, "alias_dict")
    os.makedirs(adir)
    alias, entity = zip(*uni["alias_rows"])
    pq.write_table(
        pa.table({"alias": pa.array(alias), "entity_id": pa.array(entity)}), f"{adir}/part-0.parquet"
    )
    used = [triples[i] for i in np.unique(pick) if i < len(triples)]
    return expected_materialized(uni["alias_rows"], used)


def expected_materialized(alias_rows, alias_triples) -> dict:
    """Canonical triples plus the located_in closure, by union-find and BFS.

    Canonical id = the smallest node id of the node's component in the
    bipartite graph of ``a:<alias>`` and ``e:<entity>`` nodes."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, e in alias_rows:
        ra, rb = sorted((find("a:" + a), find("e:" + e)))
        parent[rb] = ra
    canon = {n: find(n) for n in list(parent)}
    triples = {
        (canon["a:" + s], p, canon["a:" + o])
        for s, p, o in alias_triples
        if "a:" + s in canon and "a:" + o in canon
    }
    located = [(s, o) for s, p, o in triples if p == "located_in"]
    closure = {(s, "located_in", o) for s, o in transitive_pairs(located)}
    return {
        "triples": sorted(triples | closure),
        "located_in": sorted(located),
        "closure_pairs": len(closure),
    }


def transitive_pairs(edges) -> set:
    """All (a, b) joined by a path of one or more edges."""
    succ: dict = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    out = set()
    for a in succ:
        seen: set = set()
        todo = deque(succ[a])
        while todo:
            b = todo.popleft()
            if b in seen:
                continue
            seen.add(b)
            todo.extend(succ.get(b, ()))
        out.update((a, b) for b in seen)
    return out


# ------------------------------------------------------------- rules_small

# The four fixed programs are the .rls texts of the repository's
# rls_datalog / rls_aggregate, rls_datatypes, rls_params and rls_tuples
# queries; their expected rows were cross-checked against that suite's
# DuckDB oracles and the Python value model.
_RLS_DEMO = """
p(a, 1). p(b, 2). p(c, 3). p(c, 30).
q(b).
r(?x, ?y + 10) :- p(?x, ?y), ~q(?x), ?y >= 1 .
s(?x, #count(?y)) :- p(?x, ?y) .
@output r, s.
"""

_RLS_DATATYPES = """
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
v("hello"). v(42). v(-7). v(3.5). v(2.0E0). v(world). v("t"@en).
v("2023"^^xsd:gYear). v(true).
out(?s, ?f, ?d) :- v(?x), ?s = STR(?x), ?f = fullStr(?x), ?d = DATATYPE(?x).
@output out.
"""

_RLS_PARAMS = """
@parameter $lo = 5 .
@parameter $scale = $lo * 2 .
v(1) . v(4) . v(7) . v(9) .
keep(?x, ?x * $scale) :- v(?x), ?x >= $lo .
@output keep .
"""

_RLS_TUPLES = """
p(f(1, 2)) .
p((3, "x")) .
p(()) .
p({a = 1, b = 2}) .
q(?x, DATATYPE(?x)) :- p(?x) .
sel(?x) :- p(?x), ?x = (3, "x") .
"""

_XSD = "http://www.w3.org/2001/XMLSchema#"
_FIXED_EXPECTED = {
    "demo": {"r": [["a", "11"], ["c", "13"], ["c", "40"]], "s": [["a", "1"], ["b", "1"], ["c", "2"]]},
    "datatypes": {
        "out": [
            ['"-7"', '"-7"', _XSD + "int"],
            ['"2"', '"\\"2\\"^^<' + _XSD + 'double>"', _XSD + "double"],
            ['"2023"', '"\\"2023\\"^^<' + _XSD + 'gYear>"', _XSD + "gYear"],
            ['"3.5"', '"\\"3.5\\"^^<' + _XSD + 'double>"', _XSD + "double"],
            ['"42"', '"42"', _XSD + "int"],
            ['"hello"', '"\\"hello\\""', _XSD + "string"],
            ['"t"', '"\\"t\\"@en"', "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"],
            ['"true"', '"\\"true\\"^^<' + _XSD + 'boolean>"', _XSD + "boolean"],
            ['"world"', '"<world>"', _XSD + "anyURI"],
        ]
    },
    "params": {"keep": [["4", "24"], ["7", "42"], ["9", "54"]]},
    "tuples": {
        "q": [
            ['"()"^^<nemo:tuple>', "nemo:tuple"],
            ['"(3,\\"x\\")"^^<nemo:tuple>', "nemo:tuple"],
            ['"<f>(1,2)"^^<nemo:tuple>', "nemo:tuple"],
            ['"{<a>=1,<b>=2}"^^<nemo:map>', "nemo:map"],
        ],
        "sel": [['"(3,\\"x\\")"^^<nemo:tuple>']],
    },
}

SMALL_NODES = 25
SMALL_EDGES = 40
SMALL_CSV = "small_edges.csv"

_SEEDED_PROGRAM = """
@import edge :- csv{{resource="{csv}", format=(int, int)}} .
start({start}) .
reach(?y) :- start(?x), edge(?x, ?y) .
reach(?z) :- reach(?y), edge(?y, ?z) .
node(?x) :- edge(?x, ?y) .
node(?y) :- edge(?x, ?y) .
unreached(?x) :- node(?x), ~reach(?x) .
outdeg(?x, #count(?y)) :- edge(?x, ?y) .
@output reach, unreached, outdeg .
"""


def write_rules_small(seed: int, out_dir: str) -> dict:
    """The rotation of small programs, each with its expected rows per
    output predicate. The seeded program combines recursion, negation and an
    aggregate over a small edge list imported from CSV."""
    rng = np.random.default_rng([seed, 3])
    edges: set[tuple[int, int]] = set()
    while len(edges) < SMALL_EDGES:
        a, b = (int(x) for x in rng.integers(0, SMALL_NODES, size=2))
        edges.add((a, b))
    edges_l = sorted(edges)
    _write_csv(os.path.join(out_dir, SMALL_CSV), edges_l)
    start = int(rng.integers(0, SMALL_NODES))
    reach = {b for a, b in transitive_pairs(edges_l) if a == start}
    nodes = {x for e in edges_l for x in e}
    outdeg: dict[int, int] = {}
    for a, _b in edges_l:
        outdeg[a] = outdeg.get(a, 0) + 1
    seeded = {
        "reach": sorted([str(x)] for x in reach),
        "unreached": sorted([str(x)] for x in nodes - reach),
        "outdeg": sorted([str(a), str(n)] for a, n in outdeg.items()),
    }
    return {
        "programs": [
            {"name": "demo", "source": _RLS_DEMO, "params": None},
            {"name": "datatypes", "source": _RLS_DATATYPES, "params": None},
            {"name": "params", "source": _RLS_PARAMS, "params": {"lo": "3"}},
            {"name": "tuples", "source": _RLS_TUPLES, "params": None},
            {"name": "seeded", "source": _SEEDED_PROGRAM.format(csv=SMALL_CSV, start=start), "params": None},
        ],
        "expected": {**_FIXED_EXPECTED, "seeded": seeded},
        "csv": SMALL_CSV,
        "csv_rows": len(edges_l),
    }


# --------------------------------------------------------- rules_recursive

# node counts per layer; edges only run from one layer to the next, so the
# fixpoint needs the same number of rounds for every seed
LAYERS = (500, 5_000, 65_000)
EXTRA_EDGE_SHARE = 0.5  # random edges per node of the next layer, beyond its one spanning in-edge
N_SOURCES = 4
BIG_CSV = "edges.csv"

_RECURSIVE_PROGRAM = """
@import edge :- csv{{resource="{csv}", format=(int, int)}} .
{sources}
reach(?s, ?y) :- src(?s), edge(?s, ?y) .
reach(?s, ?z) :- reach(?s, ?y), edge(?y, ?z) .
reached(?s, #count(?y)) :- reach(?s, ?y), edge(?y, ?z) .
@export reach :- csv{{}} .
@export reached :- csv{{}} .
"""


def write_rules_recursive(seed: int, out_dir: str) -> dict:
    """A layered random graph above the engine's 100k-row local gate, a
    reachability program with an aggregate over it, and the expected export
    rows by BFS."""
    rng = np.random.default_rng([seed, 4])
    ids = rng.permutation(sum(LAYERS))  # node ids do not reveal the layer
    starts = np.cumsum((0,) + LAYERS)
    src, dst = [], []
    for lo, mid, hi in zip(starts[:-2], starts[1:-1], starts[2:]):
        nxt = hi - mid
        src.append(rng.integers(lo, mid, size=nxt))
        dst.append(np.arange(mid, hi))
        extra = int(nxt * EXTRA_EDGE_SHARE)
        src.append(rng.integers(lo, mid, size=extra))
        dst.append(rng.integers(mid, hi, size=extra))
    pairs = np.unique(np.stack([ids[np.concatenate(src)], ids[np.concatenate(dst)]], 1), axis=0)
    edges = [(int(a), int(b)) for a, b in pairs]
    _write_csv(os.path.join(out_dir, BIG_CSV), edges)
    sources = sorted(int(ids[i]) for i in rng.choice(LAYERS[0], size=N_SOURCES, replace=False))
    succ: dict[int, list[int]] = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)
    reach_rows, reached_rows = [], []
    for s in sources:
        seen: set[int] = set()
        todo = deque(succ.get(s, ()))
        while todo:
            y = todo.popleft()
            if y not in seen:
                seen.add(y)
                todo.extend(succ.get(y, ()))
        reach_rows += [[str(s), str(y)] for y in seen]
        reached_rows.append([str(s), str(sum(1 for y in seen if y in succ))])
    program = _RECURSIVE_PROGRAM.format(
        csv=BIG_CSV, sources=" ".join(f"src({s})." for s in sources)
    )
    return {
        "program": program,
        "expected": {"reach.csv": sorted(reach_rows), "reached.csv": sorted(reached_rows)},
        "csv": BIG_CSV,
        "csv_rows": len(edges),
    }


def _write_csv(path: str, rows) -> None:
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
