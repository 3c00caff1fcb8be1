#!/usr/bin/env python3
"""Adversarial-corpus gate for q_dedup_simhash (dev-only; not engine code).

Stages a documents table built to trip every boundary the simhash
pipeline has — TIE-HEAVY vote bits (v=0 is where any engine asymmetry
flips first), empty / whitespace-only / multi-space /
leading-trailing-space texts, non-ASCII (CJK, emoji, combining marks,
NBSP), tabs-newlines inside tokens, and exact-duplicate docs — then
runs the face-vs-oracle loop on it:

    python3 tools/adversarial_simhash.py [workdir]

1. writes <workdir>/documents.parquet (+ copies the other sf0.001
   tables so oracle_check's view setup succeeds),
2. runs `sbt runMain graft.Verify` with SPARK_GRAFT_ONLY=q_dedup_simhash,
3. runs tools/oracle_check.py (face vs DuckDB oracle, hash-grade).

The kernel-vs-builtin-SQL signature check on the same corpus is the
tier-1 SimhashProbeSpec.

Exit 0 = the face matches its oracle on the adversarial corpus.
"""
import os
import shutil
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events embeddings".split()


def adversarial_docs() -> pd.DataFrame:
    texts = [
        # whitespace boundary cases: split(' ') must agree on empties
        "",                      # one empty token
        " ",                     # two empty tokens
        "   ",                   # four empty tokens
        "a ",                    # trailing empty
        " a",                    # leading empty
        "a  b",                  # interior empty
        "  a  b  ",              # all of the above
        # tokens carrying non-space whitespace (never split on)
        "a\tb c\nd",
        "tab\there new\nline",
        # non-ASCII: CJK, emoji, combining marks, NBSP (U+00A0 is NOT
        # a split separator), full-width space (U+3000)
        "日本語 テキスト 分割",
        "emoji 🎉 and 🚀 tokens",
        "café naivë å",
        "nbsp joined pair",
        "full　width　space",
        "ß ss ẞ SS İ i̇",
        # exact duplicates (near-dup pairs at hamming 0)
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog extra",
        # single-token docs: every bit of the one hash wins its vote
        "solo",
        "solo",
        "x",
    ]
    # TIE-HEAVY docs: even numbers of distinct tokens drive vote
    # tallies toward 0; build many small even-sized token sets so a
    # large fraction of the 60 bits land exactly tied (v=0).
    for i in range(60):
        toks = [f"t{i}_{j}" for j in range(2 * (1 + i % 6))]
        texts.append(" ".join(toks))
    # pairs differing by one token — hamming hovers at the <=3 gate
    for i in range(20):
        base = [f"p{i}_{j}" for j in range(8)]
        texts.append(" ".join(base))
        texts.append(" ".join(base[:-1] + [f"p{i}_alt"]))
    return pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["adv"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })


def main(workdir: str) -> int:
    os.makedirs(workdir, exist_ok=True)
    df = adversarial_docs()
    df.to_parquet(f"{workdir}/documents.parquet", index=False)
    for t in TABLES:
        src = f"{SF}/{t}.parquet"
        if os.path.exists(src):
            shutil.copyfile(src, f"{workdir}/{t}.parquet")
    out = f"{workdir}/verify_out"
    env = dict(os.environ, SPARK_GRAFT_ONLY="q_dedup_simhash")
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {workdir} {out}"],
        cwd=REPO, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-2000:])
        return 1
    return subprocess.run(
        [sys.executable, f"{REPO}/tools/oracle_check.py", out, workdir],
        cwd=REPO).returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_adv_simhash"))
