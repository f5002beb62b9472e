"""Generate pinned tokenizer goldens by running the *reference* tokenizer
(/root/reference/utils/tokenizer.py, standalone import — depends only on re)
over an edge-case battery + seeded fuzz corpus, and diff them against our
implementation. Writes tests/fixtures/tokenizer_goldens.json.

Run once per change to hebrew_ner_spark/functions/tokenizer.py:
    python scripts/gen_tokenizer_goldens.py
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hebrew_ner_spark.functions import tokenizer as ours


def load_reference():
    spec = importlib.util.spec_from_file_location(
        "ref_tokenizer", "/root/reference/utils/tokenizer.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


EDGE_CASES = [
    "גנן גידל דגן בגן.",
    "גנן גידל דגן בגן. הדגן צמח יפה!",
    "מה קרה? לא יודע...",
    "הוא אמר \"שלום\" והלך.",
    'ח"כ דיבר עם רה"מ בכנסת.',
    "א.ב.ג הוא ראשי תיבות.",
    "1. סעיף ראשון 2. סעיף שני",
    "המחיר הוא 50% מהמקור.",
    "המחיר עלה ב-3.5 אחוזים.",
    "ראו http://example.com/page לפרטים.",
    "שאלה?תשובה",
    "סוף המשפט.)",
    "(בסוגריים.) המשך",
    "שורה ראשונה\nשורה שניה",
    "שורה\n\nחדשה",
    "מספרים 12,345.67 וגם 10:30 ותאריך 1/2/2023",
    "מילה-מורכבת בתוך משפט.",
    'w"xyz מילה עם גרשיים',
    "טקסט עם !! סימני קריאה",
    "יש לו 3 תפוחים ו-5 אגסים.",
    "בדיקה עם אות בודדת בסוף א",
    "משפט לא גמור ללא נקודה",
    "English words mixed בתוך עברית.",
    "hello world. שלום עולם.",
    "v2.0 released!",
    "  רווחים   כפולים  ",
    "!",
    ".",
    "",
    "א",
    "אב.",
    "10.",
    "וכו'.",
    "ה'תשפ\"ד שנה עברית.",
    "קריאה!!! ושאלה???",
    "וגם... המשך המחשבה",
    "סימן % בודד",
    "45% מהאנשים.",
    "+972-50-1234567 זה טלפון.",
    "רשימה: א. ראשון ב. שני ג. שלישי.",
    "ציטוט 'בגרשיים' כאן.",
    "תחילת (סוגריים בסוף.)",
    "מילה\"מרכאה בפנים",
    "abc'def english with quote",
    "שלום,עולם;נקודה:כאן",
    "&סימן מיוחד",
    "emoji 😀 בטקסט.",
    "טאב\tבאמצע.",
]

HEB_WORDS = "גנן גידל דגן בגן הדגן צמח יפה הוא אמר שלום מה קרה לא יודע ראיתי אותו אתמול בבוקר".split()
PUNCT = [".", "!", "?", ",", ";", ":", "-", "...", "!!", "??", '"', "'", "(", ")", "[", "]"]
EXTRAS = ["50%", "3.5", "א.ב.ג", 'ח"כ', "1.", "12,345", "http://x.co/y", "English", "v2.0", "10:30", "\n"]


def fuzz_corpus(n: int, seed: int = 20260816) -> list[str]:
    rng = random.Random(seed)
    pool = HEB_WORDS + PUNCT + EXTRAS
    cases = []
    for _ in range(n):
        k = rng.randint(1, 25)
        parts = [rng.choice(pool) for _ in range(k)]
        # vary the joining: mostly spaces, sometimes tight concatenation
        s = ""
        for p in parts:
            s += p + ("" if rng.random() < 0.15 else " ")
        cases.append(s.strip())
    return cases


def main() -> int:
    ref = load_reference()
    inputs = EDGE_CASES + fuzz_corpus(400)
    goldens = []
    n_sent_diff = n_tok_diff = 0
    for text in inputs:
        ref_sents = ref.text2listOfSentences(text)
        ref_toks = ref.tokenize_sentences(ref_sents)
        my_sents = ours.split_sentences(text)
        if my_sents != ref_sents:
            n_sent_diff += 1
            if n_sent_diff <= 5:
                print(f"SENT DIFF on {text!r}\n  ref={ref_sents!r}\n  got={my_sents!r}")
        else:
            my_toks = [ours.tokenize_words(s) for s in my_sents]
            if my_toks != ref_toks:
                n_tok_diff += 1
                if n_tok_diff <= 5:
                    print(f"TOK DIFF on {text!r}\n  ref={ref_toks!r}\n  got={my_toks!r}")
        goldens.append({"text": text, "sentences": ref_sents, "tokens": ref_toks})

    with open(os.path.join(ROOT, "tests", "fixtures", "tokenizer_goldens.json"), "w", encoding="utf-8") as f:
        json.dump(goldens, f, ensure_ascii=False, indent=1)
    print(f"{len(inputs)} cases; sent diffs: {n_sent_diff}, tok diffs: {n_tok_diff}")
    return 1 if (n_sent_diff or n_tok_diff) else 0


if __name__ == "__main__":
    raise SystemExit(main())
