"""Golden generator for the string-metric parity test: nltk-style
jaccard_distance over character sets.

Usage: python3 tools/gen_goldens.py   (rewrites src/test/resources/string_metrics_golden.csv)
"""
import csv, os, random

def jaccard_char(a, b):
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 0.0
    return 1.0 - len(sa & sb) / len(sa | sb)

rng = random.Random(42)
words = ("wool blend duffle coat jacket parka mac trench rain shower resistant "
         "padded quilted longline hooded faux fur bomber denim jeans skinny slim "
         "straight leg bootcut swim shorts trunks brief sock socks pack plain "
         "stripe print sleeve shirt oxford polo tee vest top blouse sports bra "
         "running legging active fitness gym underwear boxer hipster thong").split()

pairs = []
# edge cases
pairs += [("", ""), ("a", ""), ("", "b"), ("a", "a"), ("ab", "ba"),
          ("abc", "abc"), ("café au lait", "cafe au lait"),
          ("résumé", "resume"), ("aaaa", "aa"),
          ("x" * 250 + "needle" + "x" * 250, "needle"),
          ("the quick brown fox", "quick brown"),
          ("wool blend coat", "coat wool blend")]
# random phrase pairs (some overlapping vocab, some substrings)
for _ in range(300):
    n1, n2 = rng.randint(1, 8), rng.randint(1, 8)
    a = " ".join(rng.choice(words) for _ in range(n1))
    b = " ".join(rng.choice(words) for _ in range(n2))
    pairs.append((a, b))
for _ in range(100):
    a = " ".join(rng.choice(words) for _ in range(rng.randint(3, 10)))
    i = rng.randint(0, len(a) // 2); j = rng.randint(i + 1, len(a))
    pairs.append((a[i:j], a))
# long strings to exercise autojunk (len >= 200)
for _ in range(50):
    a = " ".join(rng.choice(words) for _ in range(rng.randint(40, 80)))
    b = " ".join(rng.choice(words) for _ in range(rng.randint(4, 60)))
    pairs.append((b, a))

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                   "src", "test", "resources", "string_metrics_golden.csv")
with open(OUT, "w", newline="") as f:
    w = csv.writer(f)
    w.writerow(["a", "b", "jaccard_char_distance"])
    for a, b in pairs:
        w.writerow([a, b, repr(jaccard_char(a, b))])
print("wrote", len(pairs), "pairs")
