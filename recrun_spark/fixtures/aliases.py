"""Deterministic entity/alias dictionary (FIXTURES.md §2).

~40 canonical clusters, 1-3 entity ids each, ~100 entities / ~250 aliases.
Rules (fixed; shared by the golden generator and the Spark pipeline):

* every entity has a unique primary alias plus the cluster-shared alias;
* same-as equivalence edge between two entities iff they share an alias and
  BOTH priors for that alias are >= ``STRONG_PRIOR`` (0.8) — ambiguous
  (weak) shared aliases do NOT merge clusters;
* a deliberately skewed head alias (``orion``) accounts for >30% of all
  generated mentions: the hot join key (SURVEY.md §4).
"""

from __future__ import annotations

import random

STRONG_PRIOR = 0.8

_FIRST = ["orion", "zorvex", "kaldera", "nimbus", "veltro", "quorix",
          "maravel", "tessic", "ulbright", "fenwick", "garnoth", "helixia",
          "ivercrest", "jovana", "krellin", "lumivor", "morvane", "nexalia",
          "ostrander", "pellway", "quintara", "rovatek", "sylvane",
          "tarnover", "umbriel", "vexford", "wintermoor", "xandrel",
          "yarrowell", "zephyria", "ardenfell", "bryncastle", "cormorant",
          "dunmore", "eastvale", "farrowgate", "glenharbor", "hollowbrook",
          "ironspire", "juniperro"]
_KIND = ["dynamics", "industries", "holdings", "laboratories", "systems",
         "analytics", "logistics", "partners"]


def make_aliases(seed: int = 42):
    """Returns list of rows: (alias, entity_id, prior) — deterministic."""
    rng = random.Random(seed)
    rows = []
    n_clusters = 40
    for c in range(n_clusters):
        base = _FIRST[c]
        kind = _KIND[c % len(_KIND)]
        n_members = 1 + (c % 3)  # 1-3 entities per cluster
        cluster_alias = f"{base} {kind}"
        for m in range(n_members):
            eid = f"Q{1000 + c * 10 + m}"
            # strong shared alias → same-as edges within the cluster
            rows.append((cluster_alias, eid, round(0.85 + 0.01 * m, 2)))
            # unique primary alias
            suffix = ["group", "corp", "global", "intl"][m]
            rows.append((f"{base} {suffix}", eid, 0.95))
        # a short strong alias for the first member
        rows.append((base, f"Q{1000 + c * 10}", 0.9))
    # weak (ambiguous) shared aliases across clusters — must NOT merge
    for i in range(8):
        a, b = 2 * i, 2 * i + 1
        alias = f"the {_FIRST[a]}-{_FIRST[b]} venture"
        rows.append((alias, f"Q{1000 + a * 10}", 0.5))
        rows.append((alias, f"Q{1000 + b * 10}", round(0.5 + 0.05 * (i % 3), 2)))
    rows.sort()
    return rows


def head_alias() -> str:
    return "orion"


def all_surfaces(rows) -> list:
    return sorted({r[0] for r in rows})
