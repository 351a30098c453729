"""Variants for plans/ab_aqe_rules.json: every bench.py headline query
built under five AQE settings, to name which part of AQE the shipping
session's headline pays for:

- ``off``: AQE disabled (the static plan protocol 3 timed);
- ``on``: AQE as the engine ships it (``session.build_session_conf``:
  AQE, partition coalescing and the skew-join rule on; the local
  shuffle reader is Spark's default, on);
- ``no_coalesce`` / ``no_skew`` / ``no_local_reader``: as shipped, with
  one AQE rule switched off.

The runs share one session, so each arm sets all four runtime SQL confs
when it builds — a conf one arm sets would otherwise still be set when
the next arm runs. The plan then executes under the arm's confs
(``time_run`` builds and materializes back to back).

Each query's block of arms opens and closes with a ``pad`` arm (as
shipped) whose times are not compared. The first run of a query after
another query's block is slower — by ~0.17 s on ``w_rank_topk`` and
~0.6 s on q1 in a capture without pads — and ABBA order puts ``off``
first in even reps and ``no_local_reader`` first in odd ones, so
without the pads those two arms pay it in half their reps.

    REPS=10 python tools/ab_interleaved.py plans/ab_aqe_rules.json \\
        plans/ab_aqe_rules_variants.py

(sf0.1, the default; set ``SPARK_GRAFT_SF_DIR`` for another scale).
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from bench import HEADLINE

_AQE = "spark.sql.adaptive.enabled"
_RULES = {
    "no_coalesce": "spark.sql.adaptive.coalescePartitions.enabled",
    "no_skew": "spark.sql.adaptive.skewJoin.enabled",
    "no_local_reader": "spark.sql.adaptive.localShuffleReader.enabled",
}
_SHIPPED = {_AQE: "true", **{key: "true" for key in _RULES.values()}}

ARMS = {
    "pad_head": _SHIPPED,
    "off": {**_SHIPPED, _AQE: "false"},
    "on": _SHIPPED,
    **{arm: {**_SHIPPED, key: "false"} for arm, key in _RULES.items()},
    "pad_tail": _SHIPPED,
}


def _under(conf: dict[str, str], build):
    def arm(spark, sf_dir):
        for key, value in conf.items():
            spark.conf.set(key, value)
        return build(spark, sf_dir)

    return arm


_QUERIES = entry_mod.queries()
VARIANTS = {
    f"{name}:{arm}": _under(conf, _QUERIES[name])
    for name in HEADLINE
    for arm, conf in ARMS.items()
}
