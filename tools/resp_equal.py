#!/usr/bin/env python3
"""Compare two sets of saved service responses as JSON.

Usage:  python3 tools/resp_equal.py <dirA> <dirB>

Each directory holds `resp-*.json` bodies, for example the 200 bodies a
perfbench run saves in `.bench_build/work/<workload>/out/responses/`.
Two bodies are equal when they parse to the same JSON with the keys in the
same order and every number token the same text (`object_pairs_hook=list`,
`parse_float=str`, `parse_int=str`): only whitespace may differ.

Prints the first difference of each unequal or unpaired file, then a
summary line; exits 1 unless every file is paired and equal.
"""
import glob
import json
import os
import sys


class Obj(list):
    """A JSON object as its list of (key, value) pairs, in order."""


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f, object_pairs_hook=Obj, parse_float=str, parse_int=str)


def first_diff(a, b, path="$"):
    """Where `a` and `b` first differ, with both values there; None if equal."""
    if type(a) is not type(b):
        return f"{path}: {a!r} vs {b!r}"
    if isinstance(a, Obj):
        for (ka, va), (kb, vb) in zip(a, b):
            if ka != kb:
                return f"{path}: key {ka!r} vs {kb!r}"
            d = first_diff(va, vb, f"{path}.{ka}")
            if d:
                return d
    elif isinstance(a, list):
        for i, (x, y) in enumerate(zip(a, b)):
            d = first_diff(x, y, f"{path}[{i}]")
            if d:
                return d
    else:
        return None if a == b else f"{path}: {a!r} vs {b!r}"
    return None if len(a) == len(b) else f"{path}: {len(a)} vs {len(b)} entries"


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: python3 tools/resp_equal.py <dirA> <dirB>")
    dirs = sys.argv[1:]
    names = [{os.path.basename(p) for p in glob.glob(os.path.join(d, "resp-*.json"))}
             for d in dirs]
    unpaired = sorted(names[0] ^ names[1])
    for name in unpaired:
        print(f"{name}: only in {dirs[0] if name in names[0] else dirs[1]}")
    both = sorted(names[0] & names[1])
    equal = 0
    for name in both:
        d = first_diff(*(load(os.path.join(x, name)) for x in dirs))
        if d:
            print(f"{name}: {d}")
        else:
            equal += 1
    print(f"{equal} of {len(both)} paired responses equal, {len(unpaired)} unpaired")
    sys.exit(0 if both and equal == len(both) and not unpaired else 1)


if __name__ == "__main__":
    main()
