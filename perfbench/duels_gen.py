"""Seeded duels log in the reference format: tab-separated
`challenger challenged score duration` lines, no header, split over part
files. Shaped like the reference fixture (518 duels, 100 challengers,
112 players): about 5 duels per challenger with a short geometric tail,
opponents drawn uniformly from all players, 12% of players never
challenge. Same seed, same bytes.

Scores are drawn from 100..3200 rather than the fixture's 123..4988: at
the wider range the heroic fixed point's last MSE lands near eps, and
about one seed in five needs a ninth round, so pass time would depend
on the seed. At 100..3200 every seed tried converges in 8 rounds, with
the MSE of rounds 7 and 8 well clear of eps on both sides."""
import os
import random

CHALLENGERS = 4000
SCORE_MAX = 3200
PARTS = 4


def lines(seed, challengers=CHALLENGERS):
    rnd = random.Random(seed)
    players = challengers * 112 // 100
    out = []
    for c in range(1, challengers + 1):
        k = 1 + min(int(rnd.expovariate(0.25)), 24)
        for _ in range(k):
            d = rnd.randrange(1, players + 1)
            while d == c:
                d = rnd.randrange(1, players + 1)
            out.append(f"{c}\t{d}\t{rnd.randint(100, SCORE_MAX)}\t{rnd.randint(1, 500)}\n")
    return out


def generate(seed, out_dir, challengers=CHALLENGERS, parts=PARTS):
    """Write the log as `parts` files under out_dir; returns the row count."""
    rows = lines(seed, challengers)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // parts)
    for i in range(parts):
        with open(os.path.join(out_dir, f"part-{i:05d}.tsv"), "w", newline="\n") as f:
            f.writelines(rows[i * step:(i + 1) * step])
    return len(rows)
