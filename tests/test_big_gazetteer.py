"""MovieLens-style NER lifecycle (SURVEY.md §3.1): 5000-value gazetteer
dictionary compiled and recognized, reproducing the reference's
NerByDataset example shape (Program.cs:87-115) with its stop-word list.

The oracle tests keep the all-pairs phrase merge and the per-hit
gazetteer emission as reference code and require the keyed merge and
the lazy emission to produce the same match sequences on a 5,000-value
list."""

import random
import zlib

import nlquery_spark.kernel.extract as kernel_extract
from nlquery_spark.kernel.extract import (
    build_prescreen,
    build_recognizer,
    extract_text_triples,
    options_from_dict,
    schema_from_dict,
)
from nlquery_spark.kernel.matchers import (
    CONTAINS,
    EXACT,
    STARTS_WITH,
    ListContainsMatcher,
    MergePhraseMatcher,
)
from nlquery_spark.kernel.matches import MatchBag
from nlquery_spark.kernel.recognizer import Recognizer
from nlquery_spark.kernel.table import (
    ENGLISH_STOP_WORDS,
    ColumnConditionMatch,
    TableMatcherBuilder,
)
from nlquery_spark.kernel.tokenizer import tokenize
from nlquery_spark.kernel.tokens import NUMBER, WORD, TokenSequence
from nlquery_spark.operators.nlsql import parse_best_matches

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel",
    "india", "jazz", "kilo", "lima", "mike", "nova", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango",
]


def movielens_spec(n_titles: int = 5000) -> dict:
    titles = []
    for i in range(n_titles):
        a = _WORDS[zlib.crc32(f"a{i}".encode()) % 20]
        b = _WORDS[zlib.crc32(f"b{i}".encode()) % 20]
        titles.append(f"{a.title()} {b.title()} ({1950 + i % 70})")
    return {
        "caption": "Films",
        "name": "movielens",
        "columns": [
            {"caption": "Title", "name": "Title", "datatype": "string", "values": titles},
            {
                "caption": "Genres",
                "name": "Genres",
                "datatype": "string",
                "values": ["Action", "Comedy", "Drama", "Thriller", "Sci-Fi", "Romance"],
            },
            {
                "caption": "Year",
                "name": "Year",
                "datatype": "number",
                "values": [str(1950 + i) for i in range(70)],
            },
        ],
    }


def test_big_gazetteer_recognition():
    spec = movielens_spec()
    opts = {"stop_words": ENGLISH_STOP_WORDS}
    rec = build_recognizer([spec], opts)
    screen = build_prescreen([spec], opts)

    triples = extract_text_triples(
        "show me Alpha Bravo comedy films of 1984", rec, prescreen=screen
    )
    preds = {t[0] for t in triples}
    # title tokens recognized against the 5000-value gazetteer
    assert any(p.startswith("Title:") for p in preds), triples
    objs = {t[1] for t in triples if t[0].startswith("Title:")}
    assert any("Alpha Bravo" in o for o in objs), triples

    # genre gazetteer via like/contains
    triples2 = extract_text_triples("best Comedy films", rec, prescreen=screen)
    assert any(
        t[0].startswith("Genres:") and t[1] == "Comedy" for t in triples2
    ), triples2


def test_big_gazetteer_no_false_hits_on_filler():
    spec = movielens_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    out = extract_text_triples(
        "completely unrelated filler text without dictionary entries",
        rec,
        prescreen=screen,
    )
    # 'filler' contains no gazetteer token; prescreen or recognition must
    # produce nothing significant with score >= 0.5
    assert not [t for t in out if t[2] >= 0.5], out


def test_threshold_bounds_hot_token_fanout():
    """A year token matching thousands of titles stays bounded by the
    max-score filter threshold (ListContainsMatcher.cs:37,100-118) — the
    reference's own skew guard, preserved in the port."""
    spec = movielens_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    out = extract_text_triples("1984", rec, prescreen=screen)
    # bounded, not thousands
    assert len(out) < 50, len(out)


# ---------------------------------------------------------------- oracles --


class _AllPairsMerge:
    """MergePhraseMatcher before its keyed index: every match of the type
    that starts at the next token is tried against the current one."""

    first_pass_only = False
    recursive = False

    def __init__(self, keyed: MergePhraseMatcher):
        self.match_type = keyed.match_type
        self.merge = keyed.merge

    def get_matches(self, match_bag):
        if match_bag.count == 0:
            return
        statement = match_bag.statement
        similar = sorted(
            (m for m in match_bag.matches if isinstance(m, self.match_type)),
            key=lambda m: statement.get_index(m.start),
        )
        merged_ids = set()

        def try_merge_with_next(m):
            end_token_idx = statement.get_index(m.end)
            tokens = statement.tokens
            next_matches = None
            for i in range(end_token_idx + 1, len(tokens)):
                t = tokens[i]
                if t.type == WORD or t.type == NUMBER:
                    next_matches = match_bag.find_by_start(t)
                    if next_matches:
                        break
            if not next_matches:
                return None
            for next_match in next_matches:
                if isinstance(next_match, self.match_type):
                    merged = self.merge(statement, m, next_match)
                    if merged is None:
                        continue
                    merged.matched_tokens_count = (
                        m.matched_tokens_count + next_match.matched_tokens_count
                    )
                    merged_ids.add(id(next_match))
                    if isinstance(merged, self.match_type):
                        next_merged = try_merge_with_next(merged)
                        if next_merged is not None:
                            return next_merged
                    return merged
            return None

        for match in similar:
            if id(match) in merged_ids:
                continue
            merged_ids.add(id(match))
            merged_match = try_merge_with_next(match)
            if merged_match is not None:
                yield merged_match


def _per_hit_list_contains(lcm: ListContainsMatcher, match_bag, stats):
    """ListContainsMatcher.get_matches before lazy emission: a match is
    built for every (value, token) hit, then the per-token throttle
    drops most of them. ``stats`` counts the cases the oracle covers."""
    word_or_num = [
        t for t in match_bag.statement.tokens if t.type == WORD or t.type == NUMBER
    ]
    threshold = lcm.max_score_filter_threshold
    token_matches_count = [0] * len(word_or_num)
    token_max_score = [0.0] * len(word_or_num)
    hits_by_value = {}
    hot = []  # (token value, is NUMBER) of each hot occurrence
    for t_idx, t in enumerate(word_or_num):
        stem = lcm.apply_stemmer(t.value) if lcm.apply_stemmer is not None else None
        stem = stem if stem != t.value else None
        n_hits = 0
        for vi, value in enumerate(lcm.values):
            idx = value.lower().find(t.value_lower)
            used = t.value
            if idx < 0 and stem is not None:
                idx = value.lower().find(stem.lower())
                if idx >= 0:
                    used = stem
                    stats["stem_hits"] += 1
            if idx >= 0:
                n_hits += 1
                hits_by_value.setdefault(vi, []).append((t_idx, t, idx, used))
        stats["hot_tokens"] += n_hits > threshold
        stats["number_hits"] += n_hits if t.type == NUMBER else 0
        if n_hits > threshold:
            hot.append((t.value, t.type == NUMBER))
    # a hot token that occurs twice in the chunk; a value hit by both a
    # word token and a number token
    stats["repeated_hot_tokens"] += len(hot) - len(set(hot))
    stats["word_and_number_values"] += sum(
        {t.type for _, t, _, _ in entries} == {WORD, NUMBER}
        for entries in hits_by_value.values()
    )

    for i, val in enumerate(lcm.values):
        entries = hits_by_value.get(i)
        if not entries:
            continue
        skipped = []
        val_matches_count = 0
        for t_idx, t, idx, token_val in entries:
            if idx == 0:
                contains = EXACT if len(val) == len(token_val) else STARTS_WITH
            else:
                contains = CONTAINS
            m = lcm.get_match(contains, (i, val))
            m.score = float(len(token_val)) / len(val)
            m.matched_tokens_count = 1
            if t.type == NUMBER:
                next_char_idx = idx + len(token_val)
                is_number_start = idx == 0 or not val[idx - 1].isalnum()
                is_number_end = (
                    next_char_idx >= len(val) or not val[next_char_idx].isalnum()
                )
                if not is_number_start:
                    m.score /= 2
                if not is_number_end:
                    m.score /= 2
            else:
                if idx > 0 and val[idx - 1].isalnum():
                    m.score /= 2
            m.start = t
            m.end = t
            val_matches_count += 1
            token_matches_count[t_idx] += 1
            is_new_max = m.score > token_max_score[t_idx]
            if is_new_max:
                token_max_score[t_idx] = m.score
            if token_matches_count[t_idx] <= threshold or is_new_max:
                yield m
            else:
                skipped.append(m)
        if val_matches_count > 1 and skipped:
            stats["skipped_yields"] += len(skipped)
            yield from skipped


def _desc(m):
    """Everything observable about a match, for sequence equality."""
    column = getattr(m, "column", None)
    return (
        type(m).__name__,
        column.name if column is not None else None,
        getattr(m, "condition", None),
        getattr(m, "matched_value", None),
        getattr(m, "matched_caption", None),
        m.score,
        m.matched_tokens_count,
        m.start.start_index,
        m.end.start_index,
        str(m),
    )


def _oracle_spec() -> dict:
    """The 5,000-title gazetteer plus captions that make ColumnMatches
    with different, equal and no captions (alt captions, a boost phrase)
    and a number column without values (conditions whose
    ``matched_value`` is None)."""
    spec = movielens_spec()
    spec["columns"][0]["alt_captions"] = ["film title", "movie name"]
    spec["columns"][0]["boost_phrases"] = ["titled"]
    spec["columns"].append({"caption": "Rating", "name": "Rating", "datatype": "number"})
    return spec


_HAND_CHUNKS = [
    "movie name film title",
    "film title film title",
    "titled Title movie name",
    "Title Title titled",
    "rating 7 rating 8 Rating",
    "Year 1984 1985",
    "Alpha Bravo",
    "alphas bravos 1984",
    "Charlie Delta (1984) 19 84",
    "show me Alpha Bravo comedy films of 1984",
]


def _oracle_chunks(seed: int, titles, n: int = 25):
    rng = random.Random(seed)
    pieces = [
        lambda: rng.choice(titles),
        lambda: rng.choice(titles).rsplit(" (", 1)[0],
        lambda: rng.choice(titles).split()[0].lower() + "s",
        lambda: rng.choice(["Title", "film title", "movie name", "titled", "rating"]),
        lambda: str(1950 + rng.randrange(70)),
        lambda: str(rng.randrange(100)),
        lambda: rng.choice(["Comedy", "drama", "Sci-Fi"]),
        lambda: rng.choice(["the", "of", "with", "best", "films"]),
    ]
    return [
        " ".join(rng.choice(pieces)() for _ in range(2 + rng.randrange(6)))
        for _ in range(n)
    ]


def _oracle_setups():
    spec = _oracle_spec()
    titles = spec["columns"][0]["values"]
    chunks = _HAND_CHUNKS + [c for seed in (1, 2, 3) for c in _oracle_chunks(seed, titles)]
    for opts in (None, {"stop_words": ENGLISH_STOP_WORDS, "use_stemmer": True}):
        builder = TableMatcherBuilder(options_from_dict(opts))
        builder.add(schema_from_dict(spec))
        yield builder, builder.build(), chunks


_ORACLE_STATS = [
    "stem_hits",
    "hot_tokens",
    "number_hits",
    "skipped_yields",
    "repeated_hot_tokens",
    "word_and_number_values",
]


def test_lazy_gazetteer_emission_matches_per_hit_oracle():
    stats = dict.fromkeys(_ORACLE_STATS, 0)
    n_lists = 0
    for builder, _matchers, chunks in _oracle_setups():
        for lcm in builder.keyword_matchers:
            if not isinstance(lcm, ListContainsMatcher):
                continue
            n_lists += 1
            for chunk in chunks:
                seq = TokenSequence(tokenize(chunk))
                want = [_desc(m) for m in _per_hit_list_contains(lcm, MatchBag(seq), stats)]
                # twice: the first call fills the token memo, the second reads it
                for _ in range(2):
                    got = [_desc(m) for m in lcm.get_matches(MatchBag(seq))]
                    assert got == want, chunk
    assert n_lists == 6  # Title, Genres and Year lists, with and without stemmer
    assert all(stats.values()), stats


def test_memoized_throttle_follows_threshold_change():
    """The token memo holds the throttle's verdicts, which depend on
    ``max_score_filter_threshold``: after the threshold of a warm
    matcher changes, it emits what the per-hit oracle emits with the new
    threshold."""
    builder, _matchers, chunks = next(_oracle_setups())
    lcm = next(
        m
        for m in builder.keyword_matchers
        if isinstance(m, ListContainsMatcher) and len(m.values) == 5000
    )
    stats = dict.fromkeys(_ORACLE_STATS, 0)
    emitted = {}
    for threshold in (10, 3, 40, 10):
        lcm.max_score_filter_threshold = threshold
        got_all = []
        for chunk in chunks:
            seq = TokenSequence(tokenize(chunk))
            want = [_desc(m) for m in _per_hit_list_contains(lcm, MatchBag(seq), stats)]
            got = [_desc(m) for m in lcm.get_matches(MatchBag(seq))]
            assert got == want, (threshold, chunk)
            got_all.append(got)
        emitted[threshold] = got_all
    # the thresholds do change what is emitted
    assert emitted[3] != emitted[10] != emitted[40]


def test_keyed_phrase_merge_matches_all_pairs_oracle():
    n_merged = {"ColumnMatch": 0, "ColumnConditionMatch": 0}
    captions = set()
    no_value_conditions = 0
    for _builder, matchers, chunks in _oracle_setups():
        keyed = Recognizer(matchers)
        oracle = Recognizer(
            [_AllPairsMerge(m) if isinstance(m, MergePhraseMatcher) else m for m in matchers]
        )
        merges = [m for m in matchers if isinstance(m, MergePhraseMatcher)]
        assert len(merges) == 2
        for chunk in chunks:
            seq = TokenSequence(tokenize(chunk))
            bag = keyed.collect_matches(seq)
            want_bag = oracle.collect_matches(seq)
            # the whole fixpoint, pass by pass, then each merge on its output
            assert [_desc(m) for m in bag.matches] == [
                _desc(m) for m in want_bag.matches
            ], chunk
            for merge in merges:
                got = [_desc(m) for m in merge.get_matches(bag)]
                assert got == [_desc(m) for m in _AllPairsMerge(merge).get_matches(bag)]
                n_merged[merge.match_type.__name__] += len(got)
            for m in bag.matches:
                if type(m).__name__ == "ColumnMatch":
                    captions.add(m.matched_caption)
                elif isinstance(m, ColumnConditionMatch) and m.matched_value is None:
                    no_value_conditions += 1
    assert all(n_merged.values()), n_merged
    assert None in captions and len(captions - {None}) >= 2, captions
    assert no_value_conditions > 0


def _customer_spec() -> dict:
    return {
        "caption": "customer",
        "name": "customer",
        "columns": [
            {"caption": "customer key", "name": "c_custkey", "datatype": "number"},
            {
                "caption": "customer name",
                "name": "c_name",
                "datatype": "string",
                "values": [f"Customer#{i:09d}" for i in range(1, 5001)],
            },
            {
                "caption": "market segment",
                "name": "c_mktsegment",
                "datatype": "string",
                "values": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            },
        ],
    }


def test_customer_name_lookup_merges_by_key(monkeypatch):
    """A single-name parse against a 5,000-name gazetteer: every value
    contains the 'Customer' token, so the all-pairs merge tried 12.5M
    condition pairs (seconds per query). The keyed merge tries about one
    per condition match and returns the same best match."""
    calls = [0]
    merge = TableMatcherBuilder._merge_column_condition

    def counting_merge(self, st, m1, m2):
        calls[0] += 1
        return merge(self, st, m1, m2)

    monkeypatch.setattr(TableMatcherBuilder, "_merge_column_condition", counting_merge)
    monkeypatch.setattr(kernel_extract, "_RECOGNIZER_CACHE", {})
    spec = _customer_spec()
    matches, _seq = parse_best_matches("customer name Customer#000001234", [spec])
    parse_calls = calls[0]
    assert [
        (type(m).__name__, m.column.name, m.condition, m.matched_value, m.score,
         m.start.start_index, m.end.start_index)
        for m in matches
    ] == [("ColumnConditionMatch", "c_name", 1, "Customer#000001234",
           1.3888888888888888, 0, 23)]

    rec = kernel_extract._RECOGNIZER_CACHE.popitem()[1]
    bag = rec.collect_matches(TokenSequence(tokenize("customer name Customer#000001234")))
    n_name_conditions = sum(
        isinstance(m, ColumnConditionMatch) and m.column.name == "c_name"
        for m in bag.matches
    )
    assert n_name_conditions > 1000
    assert parse_calls <= 2 * n_name_conditions, (parse_calls, n_name_conditions)
