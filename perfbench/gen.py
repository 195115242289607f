"""Seeded input generator for the benchmark workloads.

Everything is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet files. Sizes (activity lengths, document count)
do not depend on the seed, so every seed gives the same amount of work. Two tables are written per input dir:

* activity inputs — ``activities.parquet`` (one header row per
  activity, the reference's activity listing) and ``events.parquet``
  (the sparse sensor samples, in the fixture ``events`` schema that
  ``queries.streams`` reads: ``user_id`` plays the activity id).
* corpus inputs — ``documents.parquet`` in the fixture ``documents``
  schema that ``x_pipeline_corpus_filter`` reads.

Activity properties the pipeline relies on:

* activities arrive in epoch order (``epoch`` and ``activity_id`` both
  increase), and each activity's samples lie after its start and
  before the next activity's start, so a ``max(epoch)`` watermark
  splits old from new activities exactly;
* ``streams`` derives ``time_key`` as a running sum of
  ``1 + event_id % 3`` over the (ts, event_id) order, which is strictly
  increasing per activity: sample ticks are unique and every sampled
  value is non-NULL — the preconditions of
  ``resample.densify_interpolate_fused``. :func:`gen_activities`
  checks both on the arrays it writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01 UTC, epoch seconds
START_EPOCH = 1_704_067_200
USERNAME = "athlete"
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: Parquet row-group size for the events file: the incremental sync
#: filters events by activity id, and row-group min/max statistics are
#: what lets that filter skip the history.
EVENT_ROW_GROUP = 16_384


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(salt.encode(), "little")])


@dataclass(frozen=True)
class ActivityInputs:
    activities: int
    rows: int
    dense_ticks: int
    #: per-activity start epoch, in activity-id order
    epochs: tuple[int, ...]


def gen_activities(
    seed: int, n_activities: int, lengths: tuple[int, ...], out_dir: str
) -> ActivityInputs:
    """Write ``n_activities`` activities whose sample counts cycle
    through ``lengths`` and return their sizes. The lengths are the same
    for every seed (so is every count derived from them); the seed
    varies timestamps and values."""
    n_samp = np.resize(np.asarray(lengths, dtype=np.int64), n_activities)
    rng = _rng(seed, "activities")
    act_id = np.repeat(np.arange(n_activities, dtype=np.int64), n_samp)
    n = int(n_samp.sum())
    event_id = np.arange(n, dtype=np.int64)
    # seconds between consecutive samples inside an activity (1-3 s,
    # like a paused recording) and between activities (rest of a day)
    gaps = rng.integers(1, 4, size=n).astype(np.int64)
    first = np.concatenate(([0], np.cumsum(n_samp)[:-1]))
    gaps[first] = 0
    cum = np.cumsum(gaps)
    offset = cum - np.repeat(cum[first], n_samp)
    length = offset[first + n_samp - 1]
    rest = rng.integers(600, 86_400, size=n_activities)
    span = length + 1 + rest
    starts = START_EPOCH + np.concatenate(([0], np.cumsum(span)[:-1]))
    ts_s = np.repeat(starts, n_samp) + offset
    ts_us = ts_s * 1_000_000 + rng.integers(0, 1_000_000, size=n)
    value = np.round(rng.gamma(2.0, 25.0, size=n) + 0.01, 2)

    # streams(): time_key = cumsum(1 + event_id % 3) per activity in
    # (ts, event_id) order — ts increases with event_id here, so the
    # ticks are strictly increasing (unique) and end at the per-
    # activity sum; the dense spine is 0..max(time_key)
    step = 1 + event_id % 3
    tk_cum = np.cumsum(step)
    tk_end = tk_cum[first + n_samp - 1] - np.concatenate(([0], tk_cum[first[1:] - 1]))
    ticks = tk_end + 1
    if not np.all(np.diff(ts_us)[np.diff(act_id) == 0] > 0):
        raise ValueError("samples of an activity are not in strictly increasing time order")
    if np.isnan(value).any():
        raise ValueError("NULL sample values")

    os.makedirs(out_dir, exist_ok=True)
    events = pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": act_id,
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]
            ),
            "value": value,
        }
    )
    pq.write_table(
        events, os.path.join(out_dir, "events.parquet"), row_group_size=EVENT_ROW_GROUP
    )
    acts = pa.table(
        {
            "activity_id": np.arange(n_activities, dtype=np.int64),
            "username": pa.array([USERNAME] * n_activities),
            "name": pa.array(["act"] * n_activities),
            "epoch": starts,
        }
    )
    pq.write_table(acts, os.path.join(out_dir, "activities.parquet"))
    return ActivityInputs(
        n_activities,
        n,
        int(ticks.sum()),
        tuple(int(x) for x in starts),
    )


#: content vocabulary shared by every language (the fixture corpus is
#: word salad over a small technical vocabulary plus stopwords)
_CONTENT = (
    "data table query scan join window sort key value row column batch "
    "stream merge filter group order hash part line customer agg index "
    "spark fast slow big small vector file page cache plan stage task node "
    "metric sensor ride run heart power speed time tick lap route climb"
).split()
_STOP = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "las", "y", "que"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": (),
}
_LANGS = ("en", "en", "en", "fr", "es", "de", "zh")


def _doc_words(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(10, 101))
    stop = _STOP[lang]
    p_stop = float(rng.uniform(0.0, 0.45)) if stop else 0.0
    pool = _CONTENT[: int(rng.integers(8, len(_CONTENT) + 1))]
    out = []
    for _ in range(n):
        if stop and rng.random() < p_stop:
            out.append(stop[int(rng.integers(len(stop)))])
        else:
            out.append(pool[int(rng.integers(len(pool)))])
    if rng.random() < 0.1:  # a digits/punctuation-heavy low-quality doc
        out = [f"{w}{int(rng.integers(1000))}!!" for w in out]
    return out


def gen_documents(seed: int, n_docs: int, out_dir: str) -> None:
    """Word-salad documents with near-duplicates (a copy of an earlier
    doc with a few words replaced), repetitive docs, and copies of the
    ``doc_id % 19 == 0`` docs that the curation pipeline treats as the
    held-out benchmark (decontamination hits)."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i >= 20 and u < 0.15:  # near-duplicate of an earlier doc
            j = int(rng.integers(i))
            words = texts[j].split(" ")
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(len(words)))] = _CONTENT[
                    int(rng.integers(len(_CONTENT)))
                ]
            lang = langs[j]
        elif i >= 20 and u < 0.20:  # copy of a benchmark doc
            j = 19 * int(rng.integers((i - 1) // 19 + 1))
            words = texts[j].split(" ")
            lang = langs[j]
        else:
            lang = _LANGS[int(rng.integers(len(_LANGS)))]
            words = _doc_words(rng, lang)
            if rng.random() < 0.08:  # templated / repetitive
                words = (words[:3] * 40)[: len(words)]
        texts.append(" ".join(words))
        langs.append(lang)
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(
                [f"src{int(x)}" for x in rng.integers(0, 20, size=n_docs)]
            ),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
