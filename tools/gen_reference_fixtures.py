#!/usr/bin/env python3
"""Seeded generator for the reference-workload fixtures in
src/test/resources/reference/ (ReferenceWorkloadsSpec, graft.BenchBaseline).

The files stand in for the reference's HyDFS business fixtures and keep the
quirks their operators and the spec's oracles depend on:

  lichess.txt        header row, 16 columns addressed by position, naive
                     comma split: some opening names carry a comma, which
                     shifts every later column, as a naive split does;
                     `turns` sits on both sides of the `> 40` filter.
  parking_meters.txt no header, 23 columns (the sample row of FIXTURES.md
                     section 3), bytes that are not UTF-8 (Windows-1252
                     letters and dashes) in columns no operator reads, a
                     blank line, ragged short rows and non-numeric rates.
  traffic_signs.txt  no header, 20 columns, RFC 4180 quoting: quoted commas
                     and doubled quotes ("" inside a quoted field) in the
                     sign name and dimension columns; the columns the demo
                     apps project are never empty.

Run from the repository root:  python3 tools/gen_reference_fixtures.py
The output is a pure function of SEED; re-running rewrites identical files.
"""
import os
import random

SEED = 20261017
OUT = os.path.join("src", "test", "resources", "reference")

OPENINGS = [
    # the five named by L-complex
    "Scandinavian Defense", "Sicilian Defense", "Indian Game",
    "Caro-Kann Defense", "Italian Game",
    # near misses: equality, not prefix, must decide
    "Sicilian Defense: Najdorf Variation", "Italian Game: Two Knights Defense",
    "Scandinavian Defense: Mieses-Kotroc Variation", "Indian Game #2",
    # others
    "Queen's Pawn Game", "French Defense: Normal Variation", "Van't Kruijs Opening",
    "Ruy Lopez: Berlin Defense", "English Opening", "Philidor Defense",
    # a comma inside the name: the naive split moves later columns right,
    # so column 14 reads "Italian Game" / "Caro-Kann Defense"
    "Italian Game, Giuoco Piano", "Caro-Kann Defense, Advance Variation",
]
MOVES = ["e4", "e5", "d4", "d5", "Nf3", "Nc6", "Bb5", "a6", "c4", "c5", "Bc4",
         "Nf6", "O-O", "Qxd5", "exd5", "Bxf7+", "Qh5", "g6", "Kxf7", "Re1"]


def lichess(rng, n=400):
    rows = ["id,rated,created_at,last_move_at,turns,victory_status,winner,"
            "increment_code,white_id,white_rating,black_id,black_rating,moves,"
            "opening_eco,opening_name,opening_ply"]
    for _ in range(n):
        gid = "".join(rng.choice("abcdefghijkmnpqrstuvwxyzABCDEFGHJKLMNPQRSTUVWXYZ23456789")
                      for _ in range(8))
        created = 1500000000000 + rng.randrange(10 ** 9)
        turns = rng.choice([str(rng.randrange(1, 160)), "40", "41", "40.5"])
        victory = rng.choice(["mate", "resign", "outoftime", "draw"])
        winner = "draw" if victory == "draw" else rng.choice(["white", "black"])
        moves = " ".join(rng.choice(MOVES) for _ in range(rng.randrange(4, 30)))
        rows.append(",".join([
            gid, rng.choice(["True", "False"]), f"{created}.0",
            f"{created + rng.randrange(10 ** 6)}.0", turns, victory, winner,
            f"{rng.choice([5, 10, 15])}+{rng.randrange(0, 10)}",
            f"player{rng.randrange(300)}", str(rng.randrange(800, 2400)),
            f"player{rng.randrange(300)}", str(rng.randrange(800, 2400)),
            moves, f"{rng.choice('ABCDE')}{rng.randrange(100):02d}",
            rng.choice(OPENINGS), str(rng.randrange(1, 20))]))
    return ("\n".join(rows) + "\n").encode("ascii")


def parking(rng, n=300):
    streets = [b"S Third St", b"E Green St", b"W Springfield Ave",
               b"S Neil St", b"Caf\xe9 Row", b"S\xe3o Paulo Ct"]  # Latin-1 bytes
    notes = [b"", b"No Charge 9PM - 7AM", b"No Charge 9PM \x96 7AM",  # 0x96: CP1252 dash
             b"Event rate \x93special\x94"]
    lines = []
    for i in range(n):
        rate = rng.choice([b"0.25", b"0.5", b"0.50", b"0.75", b"1", b"1.25", b"", b"FREE"])
        block = rng.choice([b"1000", b"1000", b"500", b"1100", b"100"])
        zone = rng.choice([b"CP75", b"CP50", b"CP25", b"CB100", b"UI50"])
        fields = [
            b"-98%05d.4" % rng.randrange(100000), b"48%05d.4" % rng.randrange(100000),
            b"%d" % (i + 1), b"%d" % rng.randrange(1000), b"%d" % rng.randrange(30),
            rate, b"%d" % rng.randrange(12), b"%d" % rng.randrange(100), zone,
            b"CAMPUS $.75/HR", b"", b"1", rng.choice([b"Yes", b"No"]), block,
            block + b" " + rng.choice(streets), b"3", b"7:00 AM - 21:00 PM",
            b"Monday - Saturday", b"2 hr max in 3 hr period", b"",
            rng.choice(notes), b"", b""]
        if i % 50 == 17:
            fields = fields[:12]  # ragged: cut before Active/block
        lines.append(b",".join(fields))
        if i % 97 == 5:
            lines.append(b"")          # blank line
            lines.append(b"-98,48")    # short row: no rate, no zone
    return b"\n".join(lines) + b"\n"


def csv_field(v):
    if any(c in v for c in ',"'):
        return '"' + v.replace('"', '""') + '"'
    return v


def traffic(rng, n=300):
    names = ["Stop", "Yield", "Stop, All Way", 'Speed Limit "25"', "Curve Ahead",
             "School Zone, When Flashing", "Street Name"]
    dims = ['30" X 30"', '16" X 42"', '24" X 24"', "36 X 36"]
    posts = ["Punched Telespar", "U-Channel", "Wood", "Round Pipe"]
    cats = ["Warning", "Regulatory", "Streetname", "Warning - School", "Guide"]
    lines = []
    for i in range(n):
        fields = [
            f"-9824{rng.randrange(10 ** 6)}.{rng.randrange(10)}",
            f"4883{rng.randrange(10 ** 6)}.{rng.randrange(10)}",
            str(5000 + i), rng.choice(names), rng.choice(dims),
            rng.choice(["High Intensity", "Engineer Grade", ""]),
            rng.choice(posts), str(rng.randrange(1990, 2024)), rng.choice(cats),
            "", f"{rng.choice('WRD')}{rng.randrange(1, 20)}-{rng.randrange(1, 9)}",
            "Champaign", "", "", rng.choice(["Y", "N"]), rng.choice("NSEW"),
            f"{rng.randrange(100, 2000)} {rng.choice(['Main', 'Neil', 'Green'])} St",
            "", "", "{%08X-%04X-%04X}" % (rng.randrange(16 ** 8), rng.randrange(16 ** 4),
                                          rng.randrange(16 ** 4))]
        lines.append(",".join(csv_field(f) for f in fields))
    return ("\n".join(lines) + "\n").encode("ascii")


def main():
    rng = random.Random(SEED)
    os.makedirs(OUT, exist_ok=True)
    for name, gen in [("lichess.txt", lichess), ("parking_meters.txt", parking),
                      ("traffic_signs.txt", traffic)]:
        with open(os.path.join(OUT, name), "wb") as f:
            f.write(gen(rng))


if __name__ == "__main__":
    main()
