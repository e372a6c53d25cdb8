"""Figures of an `events` + `documents` table pair, as compared in README.md.

    python3 benchmark/tablestats.py DIR [DIR ...]

Prints one JSON object per directory: row counts, users and events per
user, event-type shares, the timestamp span, value mean and median, the
distinct (user, hour, event_type) triples that make q158's graph, and the
text figures q57/q217/q210 depend on (words per text, vocabulary, " dup"
share, exact duplicates, languages, sources).
"""
import json
import sys

import pyarrow.parquet as pq


def describe(d):
    ev = pq.read_table(d + "/events.parquet").to_pandas()
    doc = pq.read_table(d + "/documents.parquet").to_pandas()
    per_user = ev.groupby("user_id").size()
    words = doc.text.str.split(" ")
    n_words = words.map(len)
    vocab = {w for ws in words for w in ws} - {"dup"}
    return {
        "events": len(ev), "users": int(ev.user_id.nunique()),
        "events_per_user_mean_max": [round(per_user.mean(), 1), int(per_user.max())],
        "event_type_share_min_max": [round(x, 4) for x in (
            ev.event_type.value_counts(normalize=True).agg(["min", "max"]))],
        "ts_min_max": [str(ev.ts.min()), str(ev.ts.max())],
        "ts_increasing": bool(ev.ts.is_monotonic_increasing),
        "value_mean_median": [round(ev.value.mean(), 1), round(ev.value.median(), 1)],
        "user_hour_type_triples": len(ev.assign(h=ev.ts.dt.floor("h"))[
            ["user_id", "h", "event_type"]].drop_duplicates()),
        "documents": len(doc),
        "words_min_p50_max_mean": [int(n_words.min()), float(n_words.median()),
                                   int(n_words.max()), round(n_words.mean(), 1)],
        "vocabulary": len(vocab),
        "dup_suffix_share": round(doc.text.str.endswith(" dup").mean(), 4),
        "exact_duplicate_share": round(1 - doc.text.nunique() / len(doc), 4),
        "lang_en_share": round((doc.lang == "en").mean(), 3),
        "sources": int(doc.source.nunique()),
        "n_chars_is_len": bool((doc.n_chars == doc.text.str.len()).all()),
    }


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(json.dumps({"dir": d, **describe(d)}))
