#!/usr/bin/env python
"""Kernel behavioral-snapshot harness — the gate for ANY kernel/ edit.

The `kernel/` package mirrors the reference matchers' behavior, and that
parity is the mission-critical invariant; optimizations there must be
bit-identical. This tool pins the full observable kernel surface before
an edit and diffs it after:

    python scripts/kernel_snapshot.py save            # before the edit
    python scripts/kernel_snapshot.py check           # after the edit

Coverage (all deterministic, generated from the committed fixtures):
- triple extraction over 8,500 synthetic pages (incl. skewed-entity
  variants) + every sf0.01 document, both schema specs;
- mention extraction over 2,500 of the same texts;
- the full combination-DFS enumeration of ``Recognizer.recognize``
  (include_zero_matches=True) on NL-query-sized texts, with
  per-combination match types, scores, spans AND enumeration order —
  ~430k combinations;
- triple and mention extraction over 120 benchmark gazetteer pages
  (``perfbench/gen.py``, seeds 1-3) against the Orders spec plus the
  5,000-title gazetteer, once plain and once with stop words and the
  stemmer — the only part of the surface whose value lists are large;
- the same gazetteer triples (plain recognizer) under non-default
  scoring parameters: ``top_k=3`` and ``long_match_boost=False``;
- ``nlsql.parse_best_matches`` over the NL workload's requests
  (``perfbench/gen.py`` seed 11) against its customer and orders
  dictionaries with its stop words, with and without column mentions —
  the surface where every parse runs through ``TokenFilterMatcher``.

The snapshot lives outside the repo (SNAPSHOT_PATH below): it is a
session-local gate, not a committed artifact; `check` against a
snapshot saved from different fixture data fails loudly on length.
"""

from __future__ import annotations

import os
import pickle
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SNAPSHOT_PATH = os.environ.get(
    "SPARK_GRAFT_KERNEL_SNAPSHOT", "/tmp/nlquery_kernel_snapshot.pkl"
)


def _surface():
    import duckdb

    import __spark_entry__ as em
    from nlquery_spark.kernel.extract import (
        build_prescreen,
        build_recognizer,
        extract_text_mentions,
        extract_text_triples,
    )
    from nlquery_spark.kernel.table import ENGLISH_STOP_WORDS
    from nlquery_spark.kernel.tokenizer import tokenize
    from nlquery_spark.kernel.tokens import TokenSequence
    from nlquery_spark.operators.nlsql import parse_best_matches
    from nlquery_spark.sources.pages import _page_text, orders_schema_spec
    from perfbench import gen  # read-only: the benchmark's input generator

    sys.path.insert(0, os.path.join(REPO, "tests"))
    from combination_oracle import NL_OPTIONS, nl_specs

    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    texts = [_page_text(i, 0.0) for i in range(8000)] + [
        _page_text(i, 0.3) for i in range(500)
    ]
    doc_texts = [
        r[0]
        for r in duckdb.sql(
            "select text from '/root/testdata/sf0.01/documents.parquet'"
        ).fetchall()
    ]
    drec = build_recognizer([em.DOCS_SCHEMA_SPEC])
    dscreen = build_prescreen([em.DOCS_SCHEMA_SPEC])

    def combos_for(text):
        seq = TokenSequence(tokenize(text))
        out = []

        def handler(matches):
            out.append(
                tuple(
                    (
                        type(m).__name__,
                        m.score,
                        m.start.start_index,
                        m.end.start_index,
                        str(m.start),
                    )
                    for m in matches
                )
            )
            return True

        rec.recognize(seq, handler)
        return out

    nl_queries = [
        "total price above 1000 by market segment",
        "orders from Germany in Jan 2021",
        "average order price below 500 for BUILDING customers",
        "count orders by priority where price > 100",
        "price between 10 and 20",
    ] + [_page_text(i, 0.0)[:120] for i in range(300)]

    gspecs = [gen.ORDERS_SPEC, gen.titles_spec()]
    titles = gspecs[1]["columns"][0]["values"]
    gtexts = [
        t
        for seed in (1, 2, 3)
        for t in gen.gazetteer_pages(seed, 40, titles)["text"]
    ]
    gopts = {"stop_words": ENGLISH_STOP_WORDS, "use_stemmer": True}
    gaz = [
        (build_recognizer(gspecs, o), build_prescreen(gspecs, o))
        for o in (None, gopts)
    ]

    gazetteer_params = [
        {"top_k": 3},
        {"long_match_boost": False},
    ]

    nspecs = nl_specs(gen)

    def nl_parse(table, nl, mentions):
        matches, _seq = parse_best_matches(nl, [nspecs[table]], NL_OPTIONS, mentions)
        return [
            (type(m).__name__, str(m), m.score, m.start.start_index, m.end.start_index)
            for m in matches
        ]

    return {
        "nlsql_parses": [
            nl_parse(table, nl, mentions)
            for table, nl, _conds in gen.nl_queries(11, 400) + gen.warmup_queries(11)
            for mentions in (False, True)
        ],
        "gazetteer_triples": [
            extract_text_triples(t, r, prescreen=s) for r, s in gaz for t in gtexts
        ],
        "gazetteer_param_triples": [
            extract_text_triples(t, gaz[0][0], prescreen=gaz[0][1], **kw)
            for kw in gazetteer_params
            for t in gtexts
        ],
        "gazetteer_mentions": [
            extract_text_mentions(t, r, prescreen=s) for r, s in gaz for t in gtexts
        ],
        "orders_triples": [
            extract_text_triples(t, rec, prescreen=screen) for t in texts
        ],
        "orders_mentions": [
            extract_text_mentions(t, rec, prescreen=screen) for t in texts[:2000]
        ],
        "docs_triples": [
            extract_text_triples(t, drec, prescreen=dscreen) for t in doc_texts
        ],
        "docs_mentions": [
            extract_text_mentions(t, drec, prescreen=dscreen) for t in doc_texts
        ],
        "zero_path_combos": [combos_for(q) for q in nl_queries],
    }


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    if mode == "save":
        surface = _surface()
        with open(SNAPSHOT_PATH, "wb") as fh:
            pickle.dump(surface, fh)
        print(
            f"saved {SNAPSHOT_PATH}: "
            + ", ".join(f"{k}={len(v)}" for k, v in surface.items())
        )
        return
    if mode != "check":
        raise SystemExit(f"usage: {sys.argv[0]} save|check (got {mode!r})")
    with open(SNAPSHOT_PATH, "rb") as fh:
        want = pickle.load(fh)
    got = _surface()
    assert set(got) == set(want), (sorted(got), sorted(want))
    for key in want:
        assert len(got[key]) == len(want[key]), (
            f"{key}: length {len(got[key])} != snapshot {len(want[key])} "
            "(snapshot from different fixtures?)"
        )
        for i, (g, w) in enumerate(zip(got[key], want[key])):
            if g != w:
                raise AssertionError(f"{key}[{i}] differs:\n got: {g}\nwant: {w}")
    print("kernel surface identical to snapshot "
          f"({', '.join(f'{k}={len(v)}' for k, v in want.items())})")


if __name__ == "__main__":
    main()
