"""Label-algebra kernels: multi-tag validation and tag-scheme conversion.

``validate_multi_to_single`` is a behaviour-exact reimplementation of the
reference's multi->single BIOSE collapse (utils/ner.py:177-222, itself
"Appendix A in paper"). Quirks preserved deliberately:

  * the validity regex is matched UNANCHORED (re.match without $), so a
    sequence like 'EI' counts as valid via a partial 'I*EO*' match;
  * a valid-but-unclassifiable sequence (none of the anchored B/I/O/S/E
    patterns match, e.g. 'EI' or 'EB') leaves the base label empty and the
    category suffix is still appended -> the emitted label is '-CAT';
  * the relaxed fallback (reference Fig. 11) ignores order entirely.

These run inside Arrow kernels (operators/labels.py, and the fused hybrid
kernel operators/lattice.prune_merge_validate, which also calls
``refine_token_label``); the pure functions here are also unit-tested
directly against pinned cases.
"""

from __future__ import annotations

import re

_VALID_SEQ = re.compile(r"O+|O*BI*(EO*)?|I+|I*EO*|O*SO*")

_ANCHORED = [
    ("B", re.compile(r"^O*BI*$")),
    ("I", re.compile(r"^I+$")),
    ("O", re.compile(r"^O+$")),
    ("S", re.compile(r"^O*(S|BI*E)O*$")),
    ("E", re.compile(r"^I*EO*$")),
]


def validate_multi_to_single(tag: str, multi_delim: str = "^") -> tuple[str, bool]:
    """Collapse a '^'-joined multi-tag into one BIOSE label.

    Returns (single_label, was_valid). Reference: utils/ner.py:177-222.
    """
    parts = [
        ("O", None) if "-" not in label else tuple(label.split("-", 1))
        for label in tag.split(multi_delim)
    ]
    biose_seq = [p[0] for p in parts]
    cat_seq = [p[1] for p in parts]

    first_cat = next((cat for cat in cat_seq if cat is not None), "")
    biose_str = "".join(biose_seq)
    valid = _VALID_SEQ.match(biose_str) is not None  # unanchored, quirk kept

    single = ""
    if valid:
        for lab, pat in _ANCHORED:
            if pat.match(biose_str):
                single = lab
                break
    else:
        if "S" in biose_str or ("B" in biose_str and "E" in biose_str):
            single = "S"
        elif "E" in biose_str:
            single = "E"
        elif "B" in biose_str:
            single = "B"
        elif "I" in biose_str:
            single = "I"
        else:
            single = "O"

    if single != "O":
        single += f"-{first_cat}"
    return single, valid


def refine_token_label(label: str, k: int) -> list[str]:
    """BIOSE refinement of one token-level label over its k morphemes.

    The deterministic stand-in for morpheme-level NER output: S over k>=2
    morphemes becomes B I* E, B becomes B I*, E becomes I* E, I/O repeat.
    Round-trips exactly through validate_multi_to_single.
    """
    if k <= 1:
        return [label]
    if "-" not in label:
        return [label] * k
    base, cat = label.split("-", 1)
    if base == "S":
        return [f"B-{cat}"] + [f"I-{cat}"] * (k - 2) + [f"E-{cat}"]
    if base == "B":
        return [f"B-{cat}"] + [f"I-{cat}"] * (k - 1)
    if base == "E":
        return [f"I-{cat}"] * (k - 1) + [f"E-{cat}"]
    return [label] * k


def bioes_to_bio(label: str) -> str:
    """E9 converter: S->B, E->I, keep category (tagSchemeConverter.py)."""
    if label.startswith("S-"):
        return "B-" + label[2:]
    if label.startswith("E-"):
        return "I-" + label[2:]
    return label


def bio_to_bioes(label: str, next_label: str | None) -> str:
    """E9 converter: promote B->S / I->E when no continuation follows."""
    if label.startswith("B-"):
        cont = next_label is not None and next_label == "I-" + label[2:]
        return label if cont else "S-" + label[2:]
    if label.startswith("I-"):
        cont = next_label is not None and next_label == "I-" + label[2:]
        return label if cont else "E-" + label[2:]
    return label
