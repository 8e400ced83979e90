#!/usr/bin/env python3
"""Property-fuzz the golden kernels against the Scala scanner (guards the
guards): the pinned goldens in src/test/resources/golden/ are only as
trustworthy as the pure-Python kernels in golden_g01.py / golden_g07.py
that produced them, so this harness cross-checks those kernels against the
Scala CLI on ~100 random DNA sequences per configuration.

Invocation (from the repo root; spins up two sbt JVMs, ~2 min):

    python3 tools/test_golden_kernels.py

For each configuration it
  1. generates seeded random ACGT sequences with adversarial lengths
     (exactly k, k+1, and well beyond) plus homopolymer/palindrome edges,
  2. computes per-sequence (span count, k-mer count, distinct minimizers,
     order-free XOR checksum of the distinct minimizer values) with the
     UNMODIFIED golden kernel code (g01's priority/window-min at k=35 m=31
     s=7; g07's two-word kernel at k=50 m=40),
  3. runs `graft.Main scan` at the same parameters and diffs the TSVs.

Any mismatch means a golden kernel and the Scala kernel disagree — i.e.
either a pinned golden is untrustworthy or the engine is wrong. Exit 0 on
full agreement, 1 otherwise.
"""
import random
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
import golden_g01
import golden_g07

M64 = (1 << 64) - 1
MIX = 0x9E3779B97F4A7C15


def g01_stats(dna):
    """(spans, kmers, distinct, checksum) via golden_g01's own kernel —
    g01_row verbatim for the counts, plus the checksum from the same
    priority/window-min pipeline."""
    K, M = golden_g01.K, golden_g01.M
    spans, kmers, distinct = golden_g01.g01_row(dna)
    pris = [golden_g01.priority(golden_g01.encode(dna[j:j + M]))
            for j in range(len(dna) - M + 1)]
    per_kmer = [min(pris[i:i + K - M + 1]) for i in range(len(dna) - K + 1)]
    chk = 0
    for v in set(per_kmer):  # narrow minimizers fit one word: fold = value
        chk ^= v
    return spans, kmers, distinct, chk


def g07_stats(dna):
    """(spans, kmers, distinct, checksum) via golden_g07's own kernel."""
    K, M = golden_g07.K, golden_g07.M
    pris = [golden_g07.priority(golden_g07.encode(dna[j:j + M]))
            for j in range(len(dna) - M + 1)]
    per_kmer = [min(pris[i:i + K - M + 1]) for i in range(len(dna) - K + 1)]
    spans = 1 + sum(1 for a, b in zip(per_kmer, per_kmer[1:]) if a != b)
    chk = 0
    for v in set(per_kmer):  # two-word fold, matching the Scala side
        hi, lo = v >> 64, v & M64
        chk ^= lo ^ ((hi * MIX) & M64)
    return spans, len(per_kmer), len(set(per_kmer)), chk


def wide_stats_at(k, m):
    """From-scratch wide kernel at arbitrary (k, m) — an independent check
    of widths the pinned goldens don't cover (notably m=64, where the hi
    word is fully populated and canonicalization crosses the word split)."""
    hi_bases = m - 32
    pri_mask = (((golden_g07.XOR_MASK & ((1 << (2 * hi_bases)) - 1)) << 64) |
                (golden_g07.XOR_MASK & M64))

    def stats(dna):
        def pri(j):
            mer = golden_g07.encode(dna[j:j + m])
            r = golden_g07.rc(mer, m)
            return (mer if mer <= r else r) ^ pri_mask
        pris = [pri(j) for j in range(len(dna) - m + 1)]
        per_kmer = [min(pris[i:i + k - m + 1]) for i in range(len(dna) - k + 1)]
        spans = 1 + sum(1 for a, b in zip(per_kmer, per_kmer[1:]) if a != b)
        chk = 0
        for v in set(per_kmer):
            hi, lo = v >> 64, v & M64
            chk ^= lo ^ ((hi * MIX) & M64)
        return spans, len(per_kmer), len(set(per_kmer)), chk
    return stats


def canonical_counts(seqs, m, encode, rc):
    """Per-position canonical m-mer counts over a library (ACGT only, every
    sequence one valid run) — mirrors FrequencyOrdering.topCanonicalMers'
    counting pass."""
    from collections import Counter
    cnt = Counter()
    for dna in seqs:
        for j in range(len(dna) - m + 1):
            mer = encode(dna[j:j + m])
            r = rc(mer, m)
            cnt[mer if mer <= r else r] += 1
    return cnt


def narrow_freq_stats(seqs, top_n):
    """g01's kernel plus frequency demotion: the top_n canonical mers by
    (count desc, mer asc) get priority | 1<<63, compared unsigned — the
    FrequencyPriority in-band flag lane."""
    K, M = golden_g01.K, golden_g01.M
    cnt = canonical_counts(seqs, M, golden_g01.encode, golden_g01.rc)
    demoted = set(m for m, _ in
                  sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n])

    def stats(dna):
        def pri(j):
            mer = golden_g01.encode(dna[j:j + M])
            p = golden_g01.priority(mer)
            r = golden_g01.rc(mer, M)
            canon = mer if mer <= r else r
            return p | (1 << 63) if canon in demoted else p
        pris = [pri(j) for j in range(len(dna) - M + 1)]
        per_kmer = [min(pris[i:i + K - M + 1]) for i in range(len(dna) - K + 1)]
        spans = 1 + sum(1 for a, b in zip(per_kmer, per_kmer[1:]) if a != b)
        chk = 0
        for v in set(per_kmer):
            chk ^= v
        return spans, len(per_kmer), len(set(per_kmer)), chk
    return stats


def wide_freq_stats(seqs, k, m, top_n):
    """Wide kernel plus frequency demotion. At m <= 63 the demote flag is
    IN-BAND: bit 63 of the hi priority word (bit 64+63 of the 2m-bit model
    int), so it survives into keys and the checksum. At m = 64 it is
    OUT-OF-BAND: window minima compare (demoted?, priority) tuples but the
    KEY stays the priority words alone. Tie order of the demotion top-N is
    Spark's (count desc, SIGNED hi, SIGNED lo)."""
    hi_bases = m - 32
    pri_mask = (((golden_g07.XOR_MASK & ((1 << (2 * hi_bases)) - 1)) << 64) |
                (golden_g07.XOR_MASK & M64))
    in_band = m <= 63
    cnt = canonical_counts(seqs, m, golden_g07.encode, golden_g07.rc)

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    ranked = sorted(cnt.items(),
                    key=lambda kv: (-kv[1], signed(kv[0] >> 64),
                                    signed(kv[0] & M64)))
    demoted = set(mm for mm, _ in ranked[:top_n])

    def stats(dna):
        def pri(j):
            mer = golden_g07.encode(dna[j:j + m])
            r = golden_g07.rc(mer, m)
            canon = mer if mer <= r else r
            p = canon ^ pri_mask
            dem = canon in demoted
            if in_band:
                return (0, p | (1 << 127) if dem else p)
            return (1 if dem else 0, p)
        pris = [pri(j) for j in range(len(dna) - m + 1)]
        # per-kmer minimum over the (rank, priority) tuples; the KEY is the
        # priority element only (identical to it at in-band widths)
        per_kmer = [min(pris[i:i + k - m + 1])[1]
                    for i in range(len(dna) - k + 1)]
        spans = 1 + sum(1 for a, b in zip(per_kmer, per_kmer[1:]) if a != b)
        chk = 0
        for v in set(per_kmer):
            hi, lo = v >> 64, v & M64
            chk ^= lo ^ ((hi * MIX) & M64)
        return spans, len(per_kmer), len(set(per_kmer)), chk
    return stats


def xwide_stats_at(k, m, seqs=None, top_n=None):
    """From-scratch extra-wide (m > 64: 3/4-word) kernel at arbitrary (k, m)
    — an independent check of the WideScanner at 3/4 words. Mask replicated
    per word with the top word truncated to its populated bits; checksum folds each
    distinct key's words top-down as acc = acc*MIX ^ word (the two-word
    l ^ hi*MIX generalized). With seqs/top_n set, adds frequency demotion:
    in-band (bit 63 of word 0) when the top word has a spare bit
    (topBases <= 31), out-of-band compare rank otherwise."""
    words = (m + 31) // 32
    top_bases = m - 32 * (words - 1)
    top_mask = (1 << (2 * top_bases)) - 1
    pri_mask = 0
    for w in range(words):
        wm = golden_g07.XOR_MASK & (top_mask if w == 0 else M64)
        pri_mask |= wm << (64 * (words - 1 - w))
    in_band = top_bases <= 31
    demoted = set()
    if top_n is not None:
        cnt = canonical_counts(seqs, m, golden_g07.encode,
                               golden_g07.rc)

        def signed(x):
            return x - (1 << 64) if x >= (1 << 63) else x

        def word(v, w):
            return (v >> (64 * (words - 1 - w))) & M64

        ranked = sorted(cnt.items(), key=lambda kv:
                        (-kv[1],) + tuple(signed(word(kv[0], w))
                                          for w in range(words)))
        demoted = set(mm for mm, _ in ranked[:top_n])
    dem_bit = 1 << (64 * (words - 1) + 63)

    def stats(dna):
        def pri(j):
            mer = golden_g07.encode(dna[j:j + m])
            r = golden_g07.rc(mer, m)
            canon = mer if mer <= r else r
            p = canon ^ pri_mask
            dem = canon in demoted
            if in_band:
                return (0, p | dem_bit if dem else p)
            return (1 if dem else 0, p)
        pris = [pri(j) for j in range(len(dna) - m + 1)]
        per_kmer = [min(pris[i:i + k - m + 1])[1]
                    for i in range(len(dna) - k + 1)]
        spans = 1 + sum(1 for a, b in zip(per_kmer, per_kmer[1:]) if a != b)
        chk = 0
        for v in set(per_kmer):
            acc = 0
            for w in range(words):
                acc = ((acc * MIX) & M64) ^ ((v >> (64 * (words - 1 - w))) & M64)
            chk ^= acc
        return spans, len(per_kmer), len(set(per_kmer)), chk
    return stats


def sequences(rng, k, n=100):
    """Random ACGT sequences with edge-case lengths and structures."""
    seqs = []
    for i in range(n):
        if i < 3:
            length = k + i           # k, k+1, k+2: single/near-single window
        elif i == 3:
            length = 2 * k
        else:
            length = rng.randrange(k, 400)
        seqs.append("".join(rng.choice("ACGT") for _ in range(length)))
    # structured edges the uniform sampler essentially never hits:
    seqs.append("A" * (3 * k))                    # homopolymer (rc = T run)
    seqs.append("AT" * (2 * k))                   # alternating, rc-palindromic
    seqs.append(("ACGT" * k)[:3 * k])             # period-4 repeat
    half = "".join(rng.choice("ACGT") for _ in range(2 * k))
    rc = half[::-1].translate(str.maketrans("ACGT", "TGCA"))
    seqs.append(half + rc)                        # exact reverse-complement hairpin
    return seqs


def run_config(name, k, m, s, stats_fn, seqs, tmp, freq_top=None):
    fasta = tmp / f"{name}.fasta"
    out = tmp / f"{name}.tsv"
    with open(fasta, "w") as f:
        for i, seq in enumerate(seqs):
            f.write(f">z{i:03d}\n{seq}\n")
    freq = (f" --o frequency --freq-sample 1.0 --freq-top {freq_top}"
            if freq_top else "")
    subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.Main scan --library {fasta} --k {k} --m {m} "
         f"--s {s} --p 4{freq} --output {out}"],
        check=True, capture_output=True, text=True)
    scala = {}
    for line in open(out):
        id_, spans, kmers, distinct, chk = line.rstrip("\n").split("\t")
        scala[id_] = (int(spans), int(kmers), int(distinct), int(chk))
    bad = 0
    for i, seq in enumerate(seqs):
        want = stats_fn(seq)
        got = scala.get(f"z{i:03d}")
        if got != want:
            bad += 1
            print(f"MISMATCH {name} z{i:03d} len={len(seq)}: "
                  f"python={want} scala={got}")
    print(f"{name}: {len(seqs) - bad}/{len(seqs)} sequences agree "
          f"(k={k} m={m} s={s})")
    return bad


def main():
    rng = random.Random(1729)
    bad = 0
    with tempfile.TemporaryDirectory(prefix="graft-fuzz-") as d:
        tmp = Path(d)
        # golden_g01's kernel: narrow spaced-seed configuration of the
        # pinned g01 golden
        bad += run_config("g01", golden_g01.K, golden_g01.M, golden_g01.S,
                          g01_stats, sequences(rng, golden_g01.K), tmp)
        # golden_g07's kernel: wide two-word configuration of the pinned
        # g07 golden
        bad += run_config("g07", golden_g07.K, golden_g07.M, 0,
                          g07_stats, sequences(rng, golden_g07.K), tmp)
        # the widest key (m=64): hi word fully populated, canonicalization
        # spans the whole two-word split — no pinned golden covers it
        bad += run_config("wide64", 80, 64, 0, wide_stats_at(80, 64),
                          sequences(rng, 80), tmp)
        # frequency-demoted orderings on random sequences, one config per
        # lane: the narrow FrequencyPriority flag bit, the wide in-band
        # hi-word bit (m=40), and the m=64 OUT-OF-BAND compare rank (keys
        # never carry the flag; only selection changes). The demotion set
        # derives from the fuzz library itself (fraction 1.0), so both
        # sides recompute it independently — derivation, tie order and
        # compare lane are all under test.
        fs = sequences(rng, golden_g01.K)
        bad += run_config("g01_freq", golden_g01.K, golden_g01.M,
                          golden_g01.S, narrow_freq_stats(fs, 4096), fs, tmp,
                          freq_top=4096)
        fw = sequences(rng, golden_g07.K)
        bad += run_config("g07_freq", golden_g07.K, golden_g07.M, 0,
                          wide_freq_stats(fw, golden_g07.K, golden_g07.M,
                                          4096), fw, tmp, freq_top=4096)
        f64 = sequences(rng, 80)
        bad += run_config("wide64_freq", 80, 64, 0,
                          wide_freq_stats(f64, 80, 64, 4096), f64, tmp,
                          freq_top=4096)
        # extra-wide keys (m > 64: three/four-long) — plain, the in-band
        # demote lane (topBases <= 31: m=65), and the out-of-band lane at a
        # fully-populated top word (m=96); m=128 covers the 4-word maximum
        bad += run_config("xwide96", 104, 96, 0, xwide_stats_at(104, 96),
                          sequences(rng, 104), tmp)
        bad += run_config("xwide128", 140, 128, 0, xwide_stats_at(140, 128),
                          sequences(rng, 140), tmp)
        f65 = sequences(rng, 72)
        bad += run_config("xwide65_freq", 72, 65, 0,
                          xwide_stats_at(72, 65, f65, 512), f65, tmp,
                          freq_top=512)
        f96 = sequences(rng, 104)
        bad += run_config("xwide96_freq", 104, 96, 0,
                          xwide_stats_at(104, 96, f96, 512), f96, tmp,
                          freq_top=512)
    if bad:
        print(f"FAIL: {bad} mismatching sequences")
        return 1
    print("OK: golden kernels and Scala scanner agree on every sequence")
    return 0


if __name__ == "__main__":
    sys.exit(main())
