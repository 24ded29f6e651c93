"""Shows that the benchmark's checks catch small faults. No Spark needed.

    python3 perfbench/selftest.py [--seeds 1 2]

For each seed it builds a small reference collection, takes its own top-k
as a stand-in for engine output (the checks must pass), then perturbs that
output and requires each check to fail:

- one score one float32 ulp off;
- two docids swapped;
- a df off by one in the conserved-quantity checks;
- a deleted document still returned, and statistics that forget deleted
  documents (liveDocs semantics).

Exit code 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.checks import equal, topk_mismatch  # noqa: E402
from perfbench.reference import STOP_WORDS, Collection, analyze, byte315  # noqa: E402

WORDS = [f"w{i:04d}" for i in range(300)] + ["data", "search", "index", "the", "of", "and"]


def corpus(seed: int, n: int = 400) -> list[tuple[str, str]]:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1) ** 1.07
    p /= p.sum()
    return [
        (f"u{i:05d}", " ".join(rng.choice(WORDS, size=int(rng.poisson(40)) + 1, p=p)))
        for i in range(n)
    ]


def run(seed: int) -> list[str]:
    problems = []

    def expect(what: str, problem, should_fail: bool):
        if (problem is not None) != should_fail:
            problems.append(f"seed {seed}: {what}: {'not caught' if should_fail else problem}")

    docs = corpus(seed)
    ref = Collection()
    for url, text in docs:
        ref.add(url, text)
    # docids in a shuffled order, as an engine would assign them
    ids = np.random.default_rng([seed, 1]).permutation(len(docs))
    docid_of = {url: int(d) for (url, _), d in zip(docs, ids)}

    queries = [("term", ["w0005"]), ("and", ["w0001", "w0002"]), ("or", ["w0001", "w0010", "w0100"])]
    for shape, terms in queries:
        want = ref.topk(shape, terms, 10, docid_of)
        expect(f"{shape} identity", topk_mismatch(want, want), False)
        ulp = [(d, s) for d, s in want]
        ulp[-1] = (ulp[-1][0], np.nextafter(np.float32(ulp[-1][1]), np.float32(np.inf), dtype=np.float32))
        expect(f"{shape} score one ulp off", topk_mismatch(ulp, want), True)
        swapped = [(d, s) for d, s in want]
        swapped[0], swapped[1] = (swapped[1][0], swapped[0][1]), (swapped[0][0], swapped[1][1])
        expect(f"{shape} docids swapped", topk_mismatch(swapped, want), True)

    # conserved quantities by a second, brute-force path
    sum_df = sum(len(set(analyze(t)[0])) for _, t in docs)
    ttf = sum(len(analyze(t)[0]) for _, t in docs)
    expect("sum df", equal("sum df", ref.sum_df(), sum_df), False)
    expect("sum df off by one", equal("sum df", ref.sum_df() + 1, sum_df), True)
    expect("sum ttf", equal("sum ttf", ref.sum_ttf, ttf), False)
    df_data = sum("w0005" in analyze(t)[0] for _, t in docs)
    expect("df", equal("df", ref.df("w0005"), df_data), False)
    expect("df off by one", equal("df", ref.df("w0005") - 1, df_data), True)
    expect("stop words removed", equal("stop tokens", any(w in STOP_WORDS for w in ref.vocabulary()), False), False)

    # liveDocs: a deleted document must not come back, but it still counts
    # in the statistics until compaction
    before = ref.topk("term", ["w0005"], 10, docid_of)
    top_url = next(u for u, d in docid_of.items() if d == before[0][0])
    ref.delete_urls([top_url])
    live = {u: d for u, d in docid_of.items() if u != top_url}
    after = ref.topk("term", ["w0005"], 10, live)
    expect("deleted doc returned", topk_mismatch(before, after), True)
    expect("stats keep deleted docs", equal("tail of top-k", after[:5], before[1:6]), False)
    compacted = ref.compact().topk("term", ["w0005"], 10, live)
    expect("stats after compaction differ", topk_mismatch(compacted, after), True)

    # SmallFloat byte315 reference points: 1.0 -> 124, 0.5 -> 120
    expect("byte315", equal("byte315", byte315(np.float32([1.0, 0.5])).tolist(), [124, 120]), False)
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    args = ap.parse_args()
    problems = [p for s in args.seeds for p in run(s)]
    for p in problems:
        print("FAIL", p)
    print(f"selftest: {'ok' if not problems else 'FAILED'} ({len(args.seeds)} seeds)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
