"""Round-6 wave 9: RAKE keywords, character-script profile, Markov
next-event prediction accuracy — oracle matches at the test SF plus
crafted-input behavioral checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    ["rake_keywords", "char_script_profile", "markov_prediction_accuracy"],
)
def test_wave9_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_rake_scores_multiword_phrases_over_fragments(spark):
    from mapreduce_golang_spark.operators.text_analysis import rake_keywords

    # "machine learning" always co-occurs as one stopword-free run;
    # RAKE's degree/freq scoring must rank it above the lone "data".
    docs = spark.createDataFrame(
        [
            (0, "machine learning of data. machine learning in practice.", "en", "s", 10),
            (1, "data and machine learning.", "en", "s", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.phrase: r for r in rake_keywords(docs).collect()}
    assert out["machine learning"].n_occurrences == 3
    assert out["machine learning"].rake_score > out["data"].rake_score
    # stopwords never appear inside phrases
    assert all(" of " not in p and not p.startswith("of ") for p in out)


def test_char_script_profile_fractions(spark):
    from mapreduce_golang_spark.operators.text_analysis import char_script_profile

    docs = spark.createDataFrame(
        [(0, "ab 12", "en", "s", 5)],  # 2 letters, 1 space, 2 digits
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = char_script_profile(docs).collect()[0]
    assert r.latin_frac == 0.4 and r.digit_frac == 0.4 and r.space_frac == 0.2
    assert r.other_frac == 0.0


def test_markov_accuracy_deterministic_sequence(spark):
    from mapreduce_golang_spark.operators.windows import markov_prediction_accuracy

    # user 1 strictly alternates a->b->a->b: predictor is perfect
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "a" if i % 2 == 0 else "b", 1.0, "{}")
        for i in range(6)
    ]
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.prev_type: r for r in markov_prediction_accuracy(events).collect()}
    assert out["a"].predicted_next == "b" and out["a"].accuracy == 1.0
    assert out["b"].predicted_next == "a" and out["b"].accuracy == 1.0
    assert out["a"].n_transitions == 3 and out["b"].n_transitions == 2
