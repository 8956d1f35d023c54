"""Seeded generator of a Wikidata-shaped JSON dump and its ground truth.

The dump has the real dump's framing (a ``[`` line, one entity per line
ending in ``,``, a ``]`` line) and its shape:

- a heavy-tailed number of statements per entity, plus rare
  mega-entities with thousands of statements (the same multiset of
  counts for every seed, so input size does not vary with the seed);
- qualifiers and references on statements;
- every ClaimData variant, including ``novalue`` and ``somevalue`` snaks;
- labels, descriptions and aliases in several languages, sitelinks;
- items, properties and lexemes whose numeric ids collide
  (``Q42``/``P42``/``L42`` share the Claims row ``Claims:42``);
- a few malformed lines, which the ingest drops.

Alongside the dump it computes the ground truth the benchmark checks
against: rows per output table, total flattened claims, lines read and
dropped, and the answers to the benchmark's SurrealQL scripts. The truth
follows the ingest's documented semantics (first writer wins on a shared
numeric id, main claims tagged ``Property``, qualifiers tagged
``Claims``).

Run as ``python3 perfbench/gen_dump.py --seed 1 --entities 2000 --out d.json``.
"""

from __future__ import annotations

import argparse
import json
import random

LANGS = ("en", "de", "fr", "es", "ja", "ru", "zh", "ar", "pt", "it")
_WORDS = (
    "river mountain station album season episode village church galaxy "
    "protein gene novel painting bridge castle lake island school film "
    "series river valley museum theorem species asteroid"
).split()
_NATIVE = {
    "ja": "東京駅の記事", "ru": "статья о реке", "zh": "关于河流的条目",
    "ar": "مقالة عن نهر", "de": "Artikel über Flüsse", "fr": "article sur l'été",
}

# datatype -> JSON datavalue type, for every ClaimData variant the ingest
# decodes (operators/ingest.py _snak_value)
DATATYPES = {
    "wikibase-item": "wikibase-entityid",
    "wikibase-property": "wikibase-entityid",
    "wikibase-lexeme": "wikibase-entityid",
    "wikibase-form": "wikibase-entityid",
    "wikibase-sense": "wikibase-entityid",
    "string": "string",
    "external-id": "string",
    "url": "string",
    "commonsMedia": "string",
    "math": "string",
    "geo-shape": "string",
    "musical-notation": "string",
    "tabular-data": "string",
    "monolingualtext": "monolingualtext",
    "quantity": "quantity",
    "time": "time",
    "globe-coordinate": "globecoordinate",
}
_THING_TYPES = ("wikibase-item", "wikibase-property", "wikibase-lexeme")
# property ids the benchmark's SurrealQL scripts address
P_INSTANCE_OF, P_EPISODES, P_HAS_PARTS = 31, 1113, 527


class _Gen:
    def __init__(self, seed: int, n_entities: int):
        self.rng = random.Random(seed)
        self.n = n_entities
        rng = self.rng
        # ~40 property ids in use, zipf-weighted like the real dump (P31
        # dominates). Each has one datatype, assigned by popularity rank in
        # a fixed order, so every seed has the same datatype mix
        pool = [P_INSTANCE_OF, P_EPISODES, P_HAS_PARTS] + rng.sample(
            range(2, 3000), 37
        )
        dts = list(DATATYPES)
        self.prop_types = {p: dts[(rank + 3) % len(dts)] for rank, p in enumerate(pool)}
        self.prop_types[P_INSTANCE_OF] = "wikibase-item"
        self.prop_types[P_EPISODES] = "quantity"
        self.prop_types[P_HAS_PARTS] = "wikibase-item"
        self.props = pool
        self.prop_w = [1.0 / (i + 1) ** 0.9 for i in range(len(pool))]
        self.qual_props = rng.sample(pool, 10) + [P_INSTANCE_OF]

    # --- values -------------------------------------------------------
    def _value(self, dt: str):
        rng = self.rng
        if dt in ("wikibase-item", "wikibase-property", "wikibase-lexeme"):
            kind = {"wikibase-item": ("item", "Q"),
                    "wikibase-property": ("property", "P"),
                    "wikibase-lexeme": ("lexeme", "L")}[dt]
            n = rng.randint(1, 3 * self.n)
            return {"entity-type": kind[0], "numeric-id": n, "id": f"{kind[1]}{n}"}
        if dt == "wikibase-form":
            return {"entity-type": "form", "id": f"L{rng.randint(1, 999)}-F{rng.randint(1, 9)}"}
        if dt == "wikibase-sense":
            return {"entity-type": "sense", "id": f"L{rng.randint(1, 999)}-S{rng.randint(1, 9)}"}
        if dt == "monolingualtext":
            lang = rng.choice(LANGS)
            return {"text": _NATIVE.get(lang, rng.choice(_WORDS)), "language": lang}
        if dt == "quantity":
            q = {"amount": f"+{rng.randint(1, 5000)}", "unit": rng.choice(
                ["1", "http://www.wikidata.org/entity/Q11573"])}
            if rng.random() < 0.3:
                q["lowerBound"], q["upperBound"] = "+0", "+9999"
            return q
        if dt == "time":
            return {"time": f"+{rng.randint(1500, 2024)}-{rng.randint(1, 12):02d}-01T00:00:00Z",
                    "timezone": 0, "before": 0, "after": 0,
                    "precision": rng.choice([9, 10, 11]),
                    "calendarmodel": "http://www.wikidata.org/entity/Q1985727"}
        if dt == "globe-coordinate":
            return {"latitude": round(rng.uniform(-90, 90), 5),
                    "longitude": round(rng.uniform(-180, 180), 5),
                    "altitude": None, "precision": 0.0001,
                    "globe": "http://www.wikidata.org/entity/Q2"}
        if dt == "url":
            return f"https://example.org/{rng.randint(1, 10**6)}"
        return f"{rng.choice(_WORDS)}-{rng.randint(1, 10**6)}"

    def _snak(self, pid: int, dt: str | None = None) -> dict:
        dt = dt or self.prop_types[pid]
        r = self.rng.random()
        snaktype = "novalue" if r < 0.01 else "somevalue" if r < 0.02 else "value"
        s = {"snaktype": snaktype, "property": f"P{pid}",
             "hash": f"{self.rng.getrandbits(64):016x}", "datatype": dt}
        if snaktype == "value":
            s["datavalue"] = {"value": self._value(dt), "type": DATATYPES[dt]}
        return s

    def _statement(self, eid: str, pid: int, dt: str | None = None) -> tuple[dict, int]:
        """One statement and its flattened claim count (1 + qualifiers)."""
        rng = self.rng
        st = {"mainsnak": self._snak(pid, dt), "type": "statement",
              "id": f"{eid}${rng.getrandbits(64):016X}",
              "rank": rng.choice(["normal", "normal", "preferred", "deprecated"])}
        n_quals = 0
        if rng.random() < 0.2:
            quals: dict[str, list] = {}
            for _ in range(rng.randint(1, 3)):
                qp = rng.choice(self.qual_props)
                quals.setdefault(f"P{qp}", []).append(self._snak(qp))
                n_quals += 1
            st["qualifiers"] = quals
            st["qualifiers-order"] = list(quals)
        if rng.random() < 0.5:
            st["references"] = [{"hash": f"{rng.getrandbits(64):016x}",
                                 "snaks": {"P248": [self._snak(248, "wikibase-item")]},
                                 "snaks-order": ["P248"]}]
        return st, 1 + n_quals

    # --- entities ------------------------------------------------------
    def _terms(self, label_en: str | None) -> tuple[dict, dict, dict]:
        rng = self.rng
        labels, descs, aliases = {}, {}, {}
        if label_en is not None:
            labels["en"] = {"language": "en", "value": label_en}
            descs["en"] = {"language": "en", "value": f"{rng.choice(_WORDS)} in {rng.choice(_WORDS)}"}
        for lang in rng.sample(LANGS[1:], rng.randint(0, 4)):
            text = _NATIVE.get(lang, f"{rng.choice(_WORDS)} {lang}")
            labels[lang] = {"language": lang, "value": text}
            if rng.random() < 0.5:
                descs[lang] = {"language": lang, "value": text}
        if rng.random() < 0.3:
            aliases["en"] = [{"language": "en", "value": rng.choice(_WORDS)}]
        return labels, descs, aliases

    def entity(self, kind: str, num: int, n_statements: int, label_en: str | None,
               forced: list[tuple[int, str]]) -> tuple[dict, dict]:
        """(entity JSON, its truth record). ``forced`` statements
        (pid, datatype) come first, in order, before the random ones."""
        eid = {"item": "Q", "property": "P", "lexeme": "L"}[kind] + str(num)
        rng = self.rng
        claims: dict[str, list] = {}
        n_flat = 0
        plan = list(forced)
        for _ in range(n_statements):
            pid = rng.choices(self.props, self.prop_w)[0]
            plan.append((pid, self.prop_types[pid]))
        for pid, dt in plan:
            st, n = self._statement(eid, pid, dt)
            claims.setdefault(f"P{pid}", []).append(st)
            n_flat += n
        e: dict = {"type": kind, "id": eid}
        if kind == "lexeme":
            e["lemmas"] = {"en": {"language": "en", "value": rng.choice(_WORDS)}}
            e["lexicalCategory"], e["language"] = "Q1084", "Q1860"
            label_en = None
        else:
            labels, descs, aliases = self._terms(label_en)
            e.update(labels=labels, descriptions=descs, aliases=aliases)
            if kind == "property":
                e["datatype"] = rng.choice(list(DATATYPES))
        e["claims"] = claims
        if kind == "item":
            e["sitelinks"] = {"enwiki": {"site": "enwiki", "title": label_en or eid, "badges": []}}
        e.update(pageid=rng.randint(1, 10**8), ns=0, title=eid,
                 lastrevid=rng.randint(1, 2 * 10**9), modified="2024-05-01T12:00:00Z")
        return e, _truth_record(kind, num, label_en, claims, n_flat)


def _main_snaks(claims: dict, pid: int) -> list[dict]:
    return [st["mainsnak"] for st in claims.get(f"P{pid}", [])]


def _thing(snak: dict) -> tuple[str, int] | None:
    """The record link a main snak decodes to, or None for other variants."""
    if snak["snaktype"] != "value" or snak["datatype"] not in _THING_TYPES:
        return None
    v = snak["datavalue"]["value"]
    tb = {"Q": "Entity", "P": "Property", "L": "Lexeme"}[v["id"][0]]
    return tb, int(v["id"][1:])


def _truth_record(kind, num, label_en, claims, n_flat) -> dict:
    ep = _main_snaks(claims, P_EPISODES)
    first_amount = None
    if ep and ep[0]["snaktype"] == "value" and ep[0]["datatype"] == "quantity":
        first_amount = float(ep[0]["datavalue"]["value"]["amount"])
    return {
        "kind": kind, "num": num, "label": label_en or "",
        "n_flat": n_flat,
        "has_p31": bool(_main_snaks(claims, P_INSTANCE_OF)),
        "p1113_things": [t for t in map(_thing, ep) if t],
        "episodes": first_amount,
        "parts": [list(t) for t in map(_thing, _main_snaks(claims, P_HAS_PARTS)) if t],
    }


def _malformed(rng: random.Random, i: int) -> str:
    """Lines the ingest must drop: broken JSON before the id, JSON that is
    not an entity, and an entity kind the reference does not load."""
    return [
        '{"type" "item", "id": "Q%d", "labels": {}}' % (i + 1),
        '{"type": "item", "labels": {"en": {"language": "en", "value": "no id"}}}',
        '{"type": "entityschema", "id": "E%d", "labels": {}}' % (i + 1),
        '{"typ',
    ][rng.randrange(4)]


def generate(seed: int, n_entities: int, path: str) -> dict:
    """Write the dump to ``path`` and return its ground truth."""
    g = _Gen(seed, n_entities)
    rng = g.rng
    n_props = max(3, n_entities // 16)
    n_lex = max(3, n_entities // 25)
    n_items = n_entities - n_props - n_lex
    # numeric ids: items and properties/lexemes draw from overlapping
    # ranges, so some Q/P/L share a number (and so a Claims row)
    item_ids = rng.sample(range(1, 3 * n_entities), n_items)
    prop_ids = rng.sample(range(1, 2 * n_props + 100), n_props)
    lex_ids = rng.sample(range(1, 2 * n_lex + 100), n_lex)
    kinds = (["item"] * n_items + ["property"] * n_props + ["lexeme"] * n_lex)
    nums = item_ids + prop_ids + lex_ids
    order = list(range(n_entities))
    rng.shuffle(order)
    # statements per entity: the same heavy-tailed multiset for every
    # seed (Pareto quantiles, capped at 300, plus a fixed number of
    # 1,500-3,000-statement mega-entities), dealt out in seeded order, so
    # input size and skew do not vary with the seed
    sizes = [min(int(2 / (1 - (i + 0.5) / n_entities) ** (1 / 1.3)) - 1, 300)
             for i in range(n_entities)]
    n_mega = max(2, n_entities // 2000)
    sizes[-n_mega:] = [1500 + 1500 * j // max(1, n_mega - 1) for j in range(n_mega)]
    rng.shuffle(sizes)

    records, lines = [], ["["]
    n_bad = 0
    for pos, k in enumerate(order):
        kind, num = kinds[k], nums[k]
        forced: list[tuple[int, str]] = []
        label = None
        if kind != "lexeme" and rng.random() < 0.9:
            label = f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {kind[0]}{num}"
        if kind == "item":
            r = rng.random()
            if r < 0.15:   # quantity episodes, the reference's usual shape
                forced.append((P_EPISODES, "quantity"))
            elif r < 0.25:  # Thing-valued P1113: survives test_filter.surql
                forced.append((P_EPISODES, "wikibase-item"))
            if rng.random() < 0.6:
                forced.append((P_INSTANCE_OF, "wikibase-item"))
            if rng.random() < 0.1:
                forced += [(P_HAS_PARTS, "wikibase-item")] * rng.randint(1, 4)
        e, rec = g.entity(kind, num, sizes[pos], label, forced)
        records.append(rec)
        lines.append(json.dumps(e, ensure_ascii=False, separators=(",", ":")) + ",")
        if rng.random() < 0.002 or pos == n_entities // 2:
            lines.append(_malformed(rng, pos) + ",")
            n_bad += 1
    lines[-1] = lines[-1].rstrip(",")
    lines.append("]")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    truth = _truth(records, rng)
    truth.update(entities=n_entities, lines=n_entities + n_bad, dropped_lines=n_bad)
    return truth


def _truth(records: list[dict], rng: random.Random) -> dict:
    """Table counts and surql answers under first-writer-wins claims."""
    claims_of: dict[int, dict] = {}
    for r in records:
        claims_of.setdefault(r["num"], r)  # the first line owns Claims:<num>
    items = [r for r in records if r["kind"] == "item"]
    label_count: dict[str, int] = {}
    for r in items:
        label_count[r["label"]] = label_count.get(r["label"], 0) + 1

    def linked(r):
        return claims_of[r["num"]]

    unique = [r for r in items if r["label"] and label_count[r["label"]] == 1]
    episodes = [r for r in unique if linked(r)["episodes"] is not None]
    parts = [r for r in unique if linked(r)["parts"]]
    deleted = [r for r in items if not linked(r)["p1113_things"]]
    survivors = [r for r in unique if linked(r)["p1113_things"]]
    n_claims_rows = len(claims_of)
    return {
        "rows": {
            "Entity": len(items),
            "Property": sum(r["kind"] == "property" for r in records),
            "Lexeme": sum(r["kind"] == "lexeme" for r in records),
            "Claims": n_claims_rows,
        },
        "total_claims": sum(r["n_flat"] for r in claims_of.values()),
        "surql": {
            "episodes": [{"label": r["label"], "answer": linked(r)["episodes"]}
                         for r in rng.sample(episodes, min(8, len(episodes)))],
            "parts": [{"label": r["label"], "answer": linked(r)["parts"]}
                      for r in rng.sample(parts, min(8, len(parts)))],
            "count_p31": sum(linked(r)["has_p31"] for r in items),
            "filter": {
                "update_label": rng.choice(survivors)["label"],
                "entity_rows": len(items) - len(deleted),
                "claims_rows": n_claims_rows - len(deleted),
            },
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--entities", type=int, default=4000)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    truth = generate(args.seed, args.entities, args.out)
    print(json.dumps(truth, indent=1))


if __name__ == "__main__":
    main()
