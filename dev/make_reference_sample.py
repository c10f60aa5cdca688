#!/usr/bin/env python3
"""Write the 200-row sample pair that GraftSessionSpec reads (and DemoPipeline can run on).

Usage: python3 dev/make_reference_sample.py [out_dir]
       (default out_dir: src/test/resources/reference_sample)

The pair follows the shape of the reference app's own samples
(FIXTURES.md §1, which also records the rule coded below); it is not their bytes.
The rule is seeded and stdlib-only, so every run writes the same bytes.
sample_anon.csv is each sample_real.csv row without `name`, in the same order.
"""
import os
import random
import sys

SEED = 20240101
ROWS = 200


def rows():
    rng = random.Random(SEED)
    for i in range(ROWS):
        age = rng.randint(18, 80)
        gender = rng.choice(["F", "M"])
        pincode = rng.randint(110001, 855999)
        income = rng.randint(1500000, 15000000) / 100
        target = rng.randint(0, 1)
        yield [str(age), gender, str(pincode), f"{income:.2f}", str(target), f"Person_{i}"]


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else "src/test/resources/reference_sample"
    os.makedirs(out, exist_ok=True)
    header = ["age", "gender", "pincode", "income", "target", "name"]
    data = list(rows())
    with open(os.path.join(out, "sample_real.csv"), "w", newline="") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(r) + "\n" for r in data)
    with open(os.path.join(out, "sample_anon.csv"), "w", newline="") as f:
        f.write(",".join(header[:-1]) + "\n")
        f.writelines(",".join(r[:-1]) + "\n" for r in data)


if __name__ == "__main__":
    main()
