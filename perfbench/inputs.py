"""Seeded input generators for the benchmark workloads.

Every generator takes one ``numpy.random.Generator`` built from the
``--seed`` argument, so the same seed gives byte-identical inputs. All
inputs are generated here; nothing is read from outside the checkout.

- :class:`PosInputs` — the POS event feed (JSON-lines, the Kafka
  ``value`` double), dimension CSVs and per-store snapshot recounts, cut
  into one backfill landing and a run of equal small landings in
  event-time order. It also keeps the flat truth rows the DuckDB oracle
  reads.
- :func:`corpus_tables` — ``documents`` with a fixed share of exact and
  near duplicates, and ``embeddings`` with a fixed share of noisy copies.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TS_FMT = "%Y-%m-%d %H:%M:%S"
CHANGE_TYPES = [(1, "sale"), (2, "restock"), (3, "shrinkage"), (4, "bopis")]


# ---------------------------------------------------------------------------
# POS stream
# ---------------------------------------------------------------------------


@dataclass
class PosInputs:
    """One backfill landing plus ``n_ticks`` small landings.

    Landing ``i`` holds ``events[i]`` (JSON lines) and, on snapshot
    landings, ``snapshots[i]`` (CSV rows). ``change_rows`` and
    ``snapshot_rows`` carry, per landing, the truth the oracle needs.
    """

    n_stores: int
    n_items: int
    backfill_events: int
    tick_events: int
    n_ticks: int
    snapshot_every: int
    resend_frac: float = 0.01
    start: datetime = datetime(2024, 3, 1, 6, 0, 0)
    events: list[list[str]] = field(default_factory=list)
    snapshots: dict[int, list[tuple]] = field(default_factory=dict)
    change_rows: list[pd.DataFrame] = field(default_factory=list)
    snapshot_rows: dict[int, pd.DataFrame] = field(default_factory=dict)

    @property
    def stores(self) -> list[tuple[int, str]]:
        # the last store is the online store whose BOPIS rows gold excludes
        return [
            (s, "online" if s == self.n_stores else f"store{s:03d}")
            for s in range(1, self.n_stores + 1)
        ]

    def is_snapshot_tick(self, landing: int) -> bool:
        return landing > 0 and landing % self.snapshot_every == 0

    def generate(self, rng: np.random.Generator) -> "PosInputs":
        n_total = self.backfill_events + self.n_ticks * self.tick_events
        # event time advances ~20 s per transaction on average
        offsets = np.sort(rng.integers(0, n_total * 20, n_total))
        stamps = [
            (self.start + timedelta(seconds=int(o))).strftime(TS_FMT) for o in offsets
        ]
        stores = rng.integers(1, self.n_stores + 1, n_total)
        ctype = rng.choice([1, 2, 3, 4], n_total, p=[0.70, 0.15, 0.05, 0.10])
        n_lines = np.where(ctype == 2, rng.integers(2, 6, n_total), rng.integers(1, 4, n_total))
        # distinct items per transaction: base + k * step, step < n_items / 5
        base = rng.integers(0, self.n_items, n_total)
        step = rng.integers(1, max(2, self.n_items // 5), n_total)
        qty = np.select(
            [np.isin(ctype, (1, 4)), ctype == 3],
            [-rng.integers(1, 5, (n_total, 5)).T, -rng.integers(1, 3, (n_total, 5)).T],
            rng.integers(1, 26, (n_total, 5)).T,
        ).T
        resend = rng.random(n_total) < self.resend_frac
        salt = int(rng.integers(0, 2**62))
        bounds = [0, self.backfill_events] + [
            self.backfill_events + (t + 1) * self.tick_events for t in range(self.n_ticks)
        ]
        for landing in range(len(bounds) - 1):
            lines: list[str] = []
            truth: list[tuple] = []
            lo, hi = bounds[landing], bounds[landing + 1]
            for i in range(lo, hi):
                tid = f"{(i * 0x9E3779B97F4A7C15 + salt) % 2**64:016x}"
                store, ct, ts = int(stores[i]), int(ctype[i]), stamps[i]
                rows = [
                    (int((base[i] + k * step[i]) % self.n_items) + 1, int(qty[i, k]))
                    for k in range(n_lines[i])
                ]
                items = ", ".join(f'{{"item_id": {it}, "quantity": {q}}}' for it, q in rows)
                msg = (f'{{"trans_id": "{tid}", "store_id": {store}, "date_time": "{ts}", '
                       f'"change_type_id": {ct}, "items": [{items}]}}')
                lines.append(msg)
                if resend[i]:
                    lines.append(msg)  # exact resend within the dedup horizon
                truth.extend((tid, it, store, ts, q, ct) for it, q in rows)
            # a header-only event (items = null) that silver must keep
            lines.append(json.dumps({
                "trans_id": f"hdr{salt % 9973:04d}{landing:06d}",
                "store_id": int(rng.integers(1, self.n_stores + 1)),
                "date_time": stamps[hi - 1], "change_type_id": 1, "items": None,
            }))
            self.events.append(lines)
            self.change_rows.append(pd.DataFrame(
                truth,
                columns=["trans_id", "item_id", "store_id", "date_time", "quantity", "change_type_id"],
            ))
            self._snapshot(rng, landing, offsets[hi - 1])
        return self

    def _snapshot(self, rng: np.random.Generator, landing: int, last_offset: int) -> None:
        """Full recount of every store before the backfill; on every
        ``snapshot_every``-th landing a recount of a rotating quarter of
        the stores, and on the first such landing one out-of-order older
        recount (quantity 999) that the CDC target must ignore."""
        if landing == 0:
            stores = list(range(1, self.n_stores + 1))
            ts = self.start - timedelta(hours=1)
        elif self.is_snapshot_tick(landing):
            k = landing // self.snapshot_every
            stores = [s for s in range(1, self.n_stores + 1) if s % 4 == k % 4]
            ts = self.start + timedelta(seconds=int(last_offset))
        else:
            return
        rows = [
            (item, int(rng.integers(100, 121)), store, ts.strftime(TS_FMT), int(rng.integers(0, 61)))
            for store in stores
            for item in range(1, self.n_items + 1)
        ]
        if landing == self.snapshot_every:
            old = (self.start - timedelta(days=1)).strftime(TS_FMT)
            rows += [(item, 99, 1, old, 999) for item in range(1, self.n_items + 1)]
        self.snapshots[landing] = rows
        self.snapshot_rows[landing] = pd.DataFrame(
            rows, columns=["item_id", "employee_id", "store_id", "date_time", "quantity"]
        )

    def write_dims(self, root: str) -> None:
        dims = os.path.join(root, "dims")
        os.makedirs(dims, exist_ok=True)
        os.makedirs(os.path.join(root, "events"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "staging"), exist_ok=True)
        with open(os.path.join(dims, "store.csv"), "w") as fh:
            fh.write("store_id,name\n")
            fh.writelines(f"{s},{n}\n" for s, n in self.stores)
        with open(os.path.join(dims, "item.csv"), "w") as fh:
            fh.write("item_id,name,supplier_id,safety_stock_quantity\n")
            fh.writelines(
                f"{i},item{i:05d},{i % 7 + 1},{i % 40 + 5}\n" for i in range(1, self.n_items + 1)
            )
        with open(os.path.join(dims, "inventory_change_type.csv"), "w") as fh:
            fh.write("change_type_id,change_type\n")
            fh.writelines(f"{i},{n}\n" for i, n in CHANGE_TYPES)

    def land(self, root: str, landing: int) -> None:
        """Publish landing ``landing`` into the stream source directories.
        Files are written under ``staging/`` and renamed into place, so a
        file-stream listing never sees a partial file."""
        staged = []
        body = "\n".join(self.events[landing]) + "\n"
        staged.append((body, "events", f"batch_{landing:06d}.json"))
        if landing in self.snapshots:
            lines = ["id,item_id,employee_id,store_id,date_time,quantity"]
            lines += [",".join(map(str, (rid, *r))) for rid, r in enumerate(self.snapshots[landing])]
            staged.append(("\n".join(lines) + "\n", "snapshots", f"snap_{landing:06d}.csv"))
        for body, sub, name in staged:
            tmp = os.path.join(root, "staging", name)
            with open(tmp, "w") as fh:
                fh.write(body)
            os.rename(tmp, os.path.join(root, sub, name))

    def truth(self, landed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """(changes, snapshots) over the first ``landed`` landings."""
        changes = pd.concat(self.change_rows[:landed], ignore_index=True)
        snaps = pd.concat(
            [df for i, df in self.snapshot_rows.items() if i < landed], ignore_index=True
        )
        for df in (changes, snaps):
            df["date_time"] = pd.to_datetime(df["date_time"])
        return changes, snaps

    def sizes(self, landed: int) -> dict:
        return {
            "stores": self.n_stores,
            "items": self.n_items,
            "keys": self.n_stores * self.n_items,
            "events": int(sum(len(e) for e in self.events[:landed])),
            "change_rows": int(sum(len(c) for c in self.change_rows[:landed])),
            "snapshot_rows": int(sum(len(s) for i, s in self.snapshots.items() if i < landed)),
            "landings": landed,
        }


# ---------------------------------------------------------------------------
# training data: documents + embeddings
# ---------------------------------------------------------------------------

_VOCAB = (
    "fast spark line small customer group row the query stream key agg scan "
    "slow table part a merge window order column join vector value hash batch "
    "sort data big filter dup"
).split()
_LANGS = ["es", "zh", "de", "en", "fr"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def corpus_tables(
    rng: np.random.Generator, n_docs: int, n_vecs: int, dup_frac: float = 0.10,
) -> tuple[dict[str, pa.Table], dict]:
    """``dup_frac`` of the documents are copies of earlier ones: half
    exact, half near (two words replaced). The same share of embeddings
    are noisy copies of earlier vectors."""
    n_base = n_docs - int(n_docs * dup_frac)
    texts = [
        " ".join(_pick(rng, _VOCAB, int(rng.integers(8, 90))))
        for _ in range(n_base)
    ]
    n_exact = near = 0
    while len(texts) < n_docs:
        words = texts[int(rng.integers(0, n_base))].split()
        if len(texts) % 2 == 0:
            n_exact += 1
        else:
            for pos in rng.integers(0, len(words), 2):
                words[pos] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            near += 1
        texts.insert(int(rng.integers(n_base // 2, len(texts) + 1)), " ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_vbase = n_vecs - int(n_vecs * dup_frac)
    vecs = rng.standard_normal((n_vecs, 64))
    src = rng.integers(0, n_vbase, n_vecs - n_vbase)
    vecs[n_vbase:] = vecs[src] + 0.3 * rng.standard_normal((n_vecs - n_vbase, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    labels[n_vbase:] = labels[src]
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}, {
        "documents": n_docs, "exact_dup_docs": n_exact, "near_dup_docs": near,
        "embeddings": n_vecs, "noisy_copy_vectors": n_vecs - n_vbase,
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
