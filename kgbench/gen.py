"""Seeded transcript-workload generator.

Writes an `events` parquet (event_id, ts, user_id, event_type, value, props;
January 2024) that the engine turns into transcripts through
`graft.sources.Transcripts.fromEvents`. One (user_id, day) pair is one
conversation. The same seed and conversation count give byte-identical files.

A workload sets only the number of conversations. The shape of the corpus is
fixed by the constants below; README.md says where each value comes from
(they are assumptions, not measurements):
  LEN_ALPHA    Lomax tail index of conversation length (smaller = longer tail)
  LEN_SCALE    Lomax scale of conversation length
  LEN_CAP      longest conversation, in turns
  ROLE_MIX     (user, assistant, tool) shares of turns
  ALIAS_ZIPF   Zipf exponent over the 12 dictionary alias slots, in slot order
               (slot 0 hottest); the alias a turn names is `event_id % 12`, so
               slot choice is alias choice
Conversations are spread evenly over the 30 days.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAYS = 30
ALIAS_SLOTS = 12
EPOCH = dt.datetime(2024, 1, 1)
ROLE_EVENTS = {"user": ("click", "view"), "assistant": ("signup", "purchase"), "tool": ("error",)}

LEN_ALPHA = 1.7
LEN_SCALE = 3.5
LEN_CAP = 96
ROLE_MIX = (0.4, 0.3, 0.3)
ALIAS_ZIPF = 1.2


def conversation_lengths(rng, n: int) -> np.ndarray:
    return np.minimum(LEN_CAP, 1 + np.floor(rng.pareto(LEN_ALPHA, n) * LEN_SCALE)).astype(np.int64)


def generate(seed: int, convs: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    per_day = rng.multinomial(convs, np.full(DAYS, 1.0 / DAYS))
    n_users = int(np.ceil(per_day.max() * 1.25)) + 1
    day = np.repeat(np.arange(DAYS), per_day)
    user = np.concatenate([rng.choice(n_users, c, replace=False) for c in per_day])
    lens = conversation_lengths(rng, convs)
    n = int(lens.sum())

    ev_day = np.repeat(day, lens)
    ev_user = np.repeat(user, lens)
    # random microsecond offsets within the conversation's day; Transcripts
    # orders turns by (ts, event_id), so equal offsets still order totally
    secs = rng.integers(0, 86_400_000_000, n)
    ts = np.array(EPOCH, dtype="datetime64[us]") + (ev_day * 86_400_000_000 + secs).astype("timedelta64[us]")

    ranks = np.arange(1, ALIAS_SLOTS + 1, dtype=np.float64)
    slot_p = ranks ** -ALIAS_ZIPF
    slot_p /= slot_p.sum()
    slot = rng.choice(ALIAS_SLOTS, n, p=slot_p)
    # unique ids with a chosen residue mod 12: 12 * (row number) + slot
    order = np.argsort(ts, kind="stable")
    event_id = np.empty(n, dtype=np.int64)
    event_id[order] = 12 * np.arange(n, dtype=np.int64)
    event_id += slot

    roles = rng.choice(3, n, p=np.asarray(ROLE_MIX) / sum(ROLE_MIX))
    pick = rng.integers(0, 2, n)
    types = np.array(["click", "view", "signup", "purchase", "error", "error"], dtype=object)
    event_type = types[roles * 2 + pick]
    value = np.round(rng.uniform(0.0, 100.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")

    return pa.table({
        "event_id": pa.array(event_id[order], pa.int64()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
        "user_id": pa.array(ev_user[order], pa.int64()),
        "event_type": pa.array(event_type[order], pa.string()),
        "value": pa.array(value[order], pa.float64()),
        "props": pa.array(props[order].astype(object), pa.string()),
    })


def write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20, compression="snappy")


def write_corpus(seed: int, convs: int, sf_dir: str) -> pa.Table:
    """Write `<sf_dir>/events.parquet` and return the table."""
    os.makedirs(sf_dir, exist_ok=True)
    t = generate(seed, convs)
    write(t, os.path.join(sf_dir, "events.parquet"))
    return t
