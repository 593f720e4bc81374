"""Seeded input generators, one per workload family.

Each generator takes the seed as an argument, runs in the calling process
and writes plain parquet files: the program under test only ever sees those
files. The generators also return the tallies the correctness checks need,
computed here from the generator's own records, never by the engine.

- :class:`CdcGenerator` -- canal wire packets (``sources.canal_wire.encode_*``)
  in ``value: binary`` parquet files, the shape the Kafka source delivers.
- :func:`events_table` -- the registry's generic ``events`` table.
- :func:`corpus_tables` -- ``documents`` with planted near-duplicate clusters
  and ``embeddings`` drawn around a few centroids.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from use_clickhouse_2_analyze_mysql_binlog_spark.sources import canal_wire as W

PK_MOD = 997  # operators.merge_tree.DEFAULT_PK_MOD, the upsert row identity
N_SCHEMAS, N_TABLES = 3, 8
DML_TYPES = (1, 2, 3)  # INSERT, UPDATE, DELETE (canal EventType ids)
DML_P = (0.5, 0.36, 0.14)
DDL_TYPES = (4, 5, 8, 10)  # CREATE, ALTER, TRUNCATE, CINDEX
TYPE_NAMES = {1: "INSERT", 2: "UPDATE", 3: "DELETE", 4: "CREATE",
              5: "ALTER", 8: "TRUNCATE", 10: "CINDEX"}


@dataclass
class CdcTally:
    """What the generator knows about the stream it wrote."""

    entries: int = 0
    # one row per ROWDATA entry: the fact rows the chain must produce
    exec_ms: list = field(default_factory=list)
    gtid: list = field(default_factory=list)
    pos: list = field(default_factory=list)
    size: list = field(default_factory=list)
    affected: list = field(default_factory=list)
    etype: list = field(default_factory=list)
    table: list = field(default_factory=list)

    @property
    def fact_rows(self) -> int:
        return len(self.pos)

    def lww_state(self) -> dict:
        """Last-write-wins state per (schema.table, pos % PK_MOD) over the
        DML rows: key -> (last_event_type, last_pos, n_versions)."""
        out: dict = {}
        for t, p, e in zip(self.table, self.pos, self.etype):
            if e not in DML_TYPES:
                continue
            k = (t, p % PK_MOD)
            prev = out.get(k)
            n = prev[2] + 1 if prev else 1
            out[k] = (TYPE_NAMES[e], p, n)  # positions only grow
        return out


class CdcGenerator:
    """Seeded stream of canal transactions, cut into packet files.

    Tables are Zipf-skewed, a transaction has 1-10 statements, about 2% of
    entries are TRANSACTIONBEGIN markers and about 1% of transactions are
    single DDL statements. Event time advances ``ms_per_entry`` on average
    per entry, so the stream's event-time span is set by its length.
    """

    def __init__(self, seed: int, ms_per_entry: float, start_ms: int = 1_700_000_000_000):
        self.rng = random.Random(seed)
        self.ms_per_entry = ms_per_entry
        self.now_ms = start_ms
        self.pos = 4
        self.txn = 0
        self.tally = CdcTally()
        n = N_SCHEMAS * N_TABLES
        self.tables = [(f"shop{i % N_SCHEMAS}", f"t_{i // N_SCHEMAS:02d}")
                       for i in range(n)]
        self.table_w = list(itertools.accumulate(
            1.0 / r**1.1 for r in range(1, n + 1)))
        self.dml_w = list(itertools.accumulate(DML_P))

    def _transaction(self) -> list[bytes]:
        rng, t = self.rng, self.tally
        self.txn += 1
        gtid = f"3e11fa47-71ca-11e1-9e33-c80aa9429562:{self.txn}"
        logfile = f"mysql-bin.{100 + self.txn // 5000:06d}"
        ddl = rng.random() < 0.01
        n = 1 if ddl else rng.randint(1, 10)
        out = []
        if rng.random() < 0.11:
            out.append(W.encode_entry("TRANSACTIONBEGIN", W.encode_header(
                logfile_name=logfile, logfile_offset=self.pos,
                execute_time=self.now_ms, gtid=gtid)))
            self.pos += 80
        schema, table = rng.choices(self.tables, cum_weights=self.table_w)[0]
        for _ in range(n):
            etype = rng.choice(DDL_TYPES) if ddl else rng.choices(
                DML_TYPES, cum_weights=self.dml_w)[0]
            size = rng.randint(40, 3999)
            rows = 1 if ddl else rng.randint(1, 5)
            self.now_ms += int(rng.expovariate(1.0 / self.ms_per_entry)) + 1
            out.append(W.encode_entry("ROWDATA", W.encode_header(
                schema_name=schema, table_name=table, logfile_name=logfile,
                logfile_offset=self.pos, serveren_code="UTF-8",
                execute_time=self.now_ms, event_length=size, gtid=gtid,
                event_type=etype),
                W.encode_row_change(is_ddl=ddl, n_row_datas=rows)))
            t.exec_ms.append(self.now_ms)
            t.gtid.append(gtid)
            t.pos.append(self.pos)
            t.size.append(size)
            t.affected.append(rows)
            t.etype.append(etype)
            t.table.append(f"{schema}.{table}")
            self.pos += size + rng.randint(20, 199)
        return out

    def packets(self, n_packets: int, entries_per_packet: int) -> list[bytes]:
        """``n_packets`` packets of about ``entries_per_packet`` entries;
        transactions never straddle a packet."""
        out, pending = [], []
        while len(out) < n_packets:
            pending.extend(self._transaction())
            if len(pending) >= entries_per_packet:
                out.append(W.encode_packet(pending))
                self.tally.entries += len(pending)
                pending = []
        return out

    def write_file(self, path: str, n_packets: int, entries_per_packet: int) -> None:
        """Write one ``value: binary`` parquet file atomically (the file
        source must never list a half-written file)."""
        pkts = self.packets(n_packets, entries_per_packet)
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
        pq.write_table(pa.table({"value": pa.array(pkts, pa.binary())}), tmp)
        os.replace(tmp, path)


EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def events_table(out_dir: str, seed: int, n_rows: int, n_users: int = 1500,
                 days: int = 30) -> int:
    """The registry's ``events`` table (event_id, ts, user_id, event_type,
    value, props) in one parquet file. Users are Zipf-skewed so some
    transactions (``gtid = txn-<user_id>``) are much larger than others."""
    rng = np.random.default_rng(seed)
    span_us = days * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_rows)) + 1_704_067_200_000_000
    users = (rng.zipf(1.3, n_rows) - 1) % n_users
    tbl = pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)]),
        "value": pa.array(np.round(rng.gamma(1.5, 40.0, n_rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(out_dir, "events.parquet"))
    return n_rows


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def corpus_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                  dim: int = 64, n_clusters: int = 10) -> tuple[int, int]:
    """``documents`` and ``embeddings`` parquet files.

    About a fifth of the documents are near-duplicates of an earlier one:
    a few words substituted, dropped or appended. A few exact copies are
    planted too, and some texts carry PII-looking tokens and repeated lines.
    Embeddings are drawn around ``n_clusters`` unit centroids (``label`` is
    the centroid) with a few near-copies of earlier vectors.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.18:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                j = int(rng.integers(0, len(words)))
                op = rng.random()
                if op < 0.5:
                    words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                elif op < 0.8 and len(words) > 8:
                    del words[j]
                else:
                    words.append("dup")
            texts.append(" ".join(words))
            continue
        if i > 10 and r < 0.21:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n = int(rng.integers(8, 90))
        words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
        if rng.random() < 0.05:
            words.append(f"user{int(rng.integers(0, 999))}@example.com")
        if rng.random() < 0.1:
            words = words + ["\n"] + words[:6] + ["\n"] + words[:6]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    cent = rng.normal(size=(n_clusters, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n_vecs)
    vecs = cent[labels] * 0.35 + rng.normal(scale=0.12, size=(n_vecs, dim))
    for i in range(20, n_vecs, 37):  # near-copies for the cosine dedup rows
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(scale=1e-3, size=dim)
        labels[i] = labels[j]
    vecs = vecs.astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
    return n_docs, n_vecs
