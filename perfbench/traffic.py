"""Traffic properties of a corpus directory (documents.parquet and
embeddings.parquet): the quantities `corpus.CorpusSpec` sets, plus the
rule gate's keep share and the contamination hits, from the engine's
own oracle SQL when its dump is given.

    python3 perfbench/traffic.py <corpus dir> [<oracle_sql.json>]

The dump is `oracle_sql.json` in the benchmark's build directory,
written by the first run.
"""
from __future__ import annotations

import collections
import json
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

from corpus import STOP_WORDS, text_density


def measure(cdir: str, sql_file: str | None = None) -> dict:
    d = pq.read_table(f"{cdir}/documents.parquet").to_pydict()
    texts = d["text"]
    words = np.array([len(t.split()) for t in texts])
    counts = collections.Counter(w for t in texts for w in t.split())
    freq = np.array(sorted(counts.values(), reverse=True), dtype=float)
    n_tok = freq.sum()
    # Zipf exponent: slope of log frequency over log rank.
    zipf = -np.polyfit(np.log(np.arange(1, len(freq) + 1)), np.log(freq), 1)[0]
    out = {
        "posts": len(texts),
        "words_pct_0_25_50_75_100": np.percentile(words, [0, 25, 50, 75, 100]).tolist(),
        "vocab_size": len(counts),
        "zipf_s": round(float(zipf), 3),
        "mean_word_letters": round(sum(len(w) * c for w, c in counts.items()) / n_tok, 3),
        "stop_word_share": round(sum(counts[w] for w in STOP_WORDS) / n_tok, 4),
        "hashtag_share": round(sum(c for w, c in counts.items() if w.startswith("#")) / n_tok, 4),
        "lang_mix": {k: round(v / len(texts), 3)
                     for k, v in collections.Counter(d["lang"]).most_common()},
        "sources": len(set(d["source"])),
        "text_density": round(text_density(texts), 4),
    }
    e = pq.read_table(f"{cdir}/embeddings.parquet").to_pydict()
    x, lab = np.array(e["embedding"]), np.array(e["label"])
    out.update(vectors=len(x), dim=x.shape[1], clusters=len(set(lab.tolist())),
               mean_norm=round(float(np.linalg.norm(x, axis=1).mean()), 4),
               label_mean_sd=round(float(np.std([x[lab == k].mean(0) for k in set(lab.tolist())])), 4))
    if sql_file:
        sql = json.load(open(sql_file))
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cdir}/{t}.parquet'")
        keep, n = con.execute(f"SELECT sum(keep), count(*) FROM ({sql['tx_gopher']})").fetchone()
        pairs, docs = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id) FROM ({sql['tx_contamination']})").fetchone()
        out.update(gopher_keep_share=round(keep / n, 4), contamination_pairs=pairs,
                   contaminated_share=round(docs / n, 4))
    return out


if __name__ == "__main__":
    print(json.dumps(measure(*sys.argv[1:3]), indent=1))
