"""Feature-kernel fixtures: hand-computed vectors for canonical pages
(FIXTURES.md §5 — pure-Gujarati, empty, mixed-script, punctuation-heavy)."""

import re

import numpy as np
import pandas as pd
import pytest

from gujarati_readability_pagewise_spark.functions.features import (
    FEATURE_NAMES,
    N_FEATURES,
    compute_features,
)

IDX = {n: i for i, n in enumerate(FEATURE_NAMES)}
# scanning oracle of the kernel's single-pass sentence-run count
_SENT = re.compile(r"[.!?…।॥]+")


def one(text: str) -> np.ndarray:
    """Feature vector of a single document: a batch of one."""
    return compute_features([text])[0]


def test_empty_text_zero_vector():
    v = one("")
    assert v.shape == (N_FEATURES,)
    assert np.all(v == 0.0)


def test_simple_gujarati_counts():
    # "ગુજરાત મહાન છે." — words: 3, sentences: 1
    v = one("ગુજરાત મહાન છે.")
    assert v[IDX["n_chars"]] == 15.0
    assert v[IDX["n_words"]] == 3.0
    assert v[IDX["n_sentences"]] == 1.0
    assert v[IDX["type_token_ratio"]] == 1.0
    assert v[IDX["script_purity"]] == 1.0
    # aksharas: ગુ-જ-રા-ત (4) + મ-હા-ન (3) + છે (1) = 8
    assert v[IDX["n_aksharas"]] == 8.0


def test_akshara_conjuncts_count_as_one():
    # ક્ષ = ક + virama + ષ is ONE akshara; ત્ર = ત + virama + ર one
    v = one("ક્ષત્રિય")
    # ક્ષ, ત્રિ, ય → 3 orthographic syllables
    assert v[IDX["n_aksharas"]] == 3.0


def test_danda_sentences():
    v = one("પહેલું વાક્ય। બીજું વાક્ય॥ ત્રીજું?")
    assert v[IDX["n_sentences"]] == 3.0


def test_mixed_script_purity():
    v = one("hello ગુજરાત")
    # letters: 5 latin + 5 gujarati (ગ,જ,ર,ત + ા is a sign not a letter)
    assert 0.0 < v[IDX["script_purity"]] < 1.0


def test_english_only_zero_purity():
    v = one("just english words here")
    assert v[IDX["script_purity"]] == 0.0
    assert v[IDX["n_aksharas"]] == 0.0


def test_punct_and_digit_ratios():
    v = one("a1b2!?")
    assert v[IDX["punct_ratio"]] == 2.0 / 6.0
    assert v[IDX["digit_ratio"]] == 2.0 / 6.0


def test_gujarati_digits_counted():
    v = one("૦૧૨")
    assert v[IDX["digit_ratio"]] == 1.0


def test_type_token_ratio_repeats():
    v = one("શબ્દ શબ્દ શબ્દ નવું")
    assert v[IDX["type_token_ratio"]] == 2.0 / 4.0


def test_stopword_ratio():
    v = one("આ છે અને નવુંશબ્દ")
    assert v[IDX["stopword_ratio"]] == 3.0 / 4.0


def test_batch_matches_scalar():
    texts = ["ગુજરાત મહાન છે.", "", "hello ગુજરાત", "a1b2!?"]
    X = compute_features(texts)
    for i, t in enumerate(texts):
        np.testing.assert_array_equal(X[i], one(t))


def test_non_str_element_raises_naming_index():
    with pytest.raises(TypeError, match=r"texts\[1\] is NoneType"):
        compute_features(["ok", None])
    with pytest.raises(TypeError, match=r"texts\[2\] is bytes"):
        compute_features(["a", "b", b"c", None])


def test_non_list_input_raises():
    with pytest.raises(TypeError, match="list of str, not Series"):
        compute_features(pd.Series(["ok"]))
    with pytest.raises(TypeError, match="list of str, not tuple"):
        compute_features(("ok",))


def test_fused_numpy_passes_equal_scanning_regexes():
    """The kernel counts sentences and aksharas with single-pass table
    lookups over the shared codepoint array, and words with a whitespace
    boundary scan.  Each must equal its scanning oracle (the _SENT /
    _AKSHARA findall, ``str.split``) on adversarial inputs: orphan
    viramas, nukta chains, consecutive modifiers, astral chars, doc
    boundaries where one doc ends in a sentence run or attached virama and
    the next begins mid-class — all in ONE batch."""
    import random

    import gujarati_readability_pagewise_spark.functions.features as FT

    rng = random.Random(2024)
    alphabet = (
        [chr(c) for c in range(0x0A95, 0x0ABA)]            # consonants
        + ["઼", "્"]                                        # nukta, virama
        + [chr(c) for c in range(0x0ABE, 0x0ACD)]           # matras
        + [chr(c) for c in range(0x0A81, 0x0A84)] + ["ૐ"]  # modifiers, om
        + [chr(c) for c in range(0x0A85, 0x0A95)]           # indep vowels
        + list("abc .!?…।॥123\n\t") + ["𐌀", "😀"]
    )
    docs = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(300)
    ]
    docs += ["", "્ક", "ક્", "ક્ક્ક", "અ્ક", "ક઼્ક", "ક઼઼્ક", "કા્ક",
             "...!!।॥", ".a.b.", "ૐૐ", "😀્ક", "ક્।ક"]
    X = compute_features(docs)
    np.testing.assert_array_equal(
        X[:, IDX["n_sentences"]],
        np.array([len(_SENT.findall(d)) for d in docs], dtype=float),
    )
    np.testing.assert_array_equal(
        X[:, IDX["n_aksharas"]],
        np.array([len(FT._AKSHARA.findall(d)) for d in docs], dtype=float),
    )
    np.testing.assert_array_equal(
        X[:, IDX["n_words"]],
        np.array([len(d.split()) for d in docs], dtype=float),
    )
