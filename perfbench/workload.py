"""Seeded request streams for the service workloads.

``ask_repeat``: a Zipf-skewed mix of corpus question shapes, each with
DuckDB gold SQL over the same parquet files, plus about 5% safety
probes (the parity harness's probes restated for this corpus).

``generate_unique``: never-repeating question variants (shape x column
x literal) for ``/ai/nl2sql``, and about one request in five an
``/ai/run`` whose SQL the safety layer must refuse.

The seed changes the order of requests and the literals drawn; it
never changes the corpus or the set of shapes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

_ORD = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate"

# (question, DuckDB gold SQL), most popular first: the Zipf rank of a
# shape is its position here. No measured NL-to-SQL traffic is
# available, so this ranking (simple group-bys and counts first, joins,
# windows and anti-joins last) and ZIPF_S are assumptions; README.md
# gives the mix they produce.
ASK_POOL: list[tuple[str, str]] = [
    ("count of orders per orderpriority",
     "SELECT o_orderpriority, COUNT(*) FROM orders GROUP BY 1"),
    ("average acctbal per mktsegment in customer",
     "SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) FROM customer GROUP BY 1"),
    ("top 5 orders by totalprice",
     f"SELECT {_ORD} FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"),
    ("how many lineitem rows are there", "SELECT COUNT(*) FROM lineitem"),
    ("count of customers per region name",
     "SELECT r_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey"
     " JOIN region ON n_regionkey = r_regionkey GROUP BY 1"),
    ("count of orders per month",
     "SELECT strftime(o_orderdate, '%Y-%m'), COUNT(*) FROM orders GROUP BY 1"),
    ("sum of totalprice per orderstatus in orders",
     "SELECT o_orderstatus, ROUND(SUM(o_totalprice), 2) FROM orders GROUP BY 1"),
    ("unique mktsegment values from customer",
     "SELECT DISTINCT c_mktsegment FROM customer"),
    ("count of orders with orderstatus F per orderpriority",
     "SELECT o_orderpriority, COUNT(*) FROM orders WHERE o_orderstatus = 'F' GROUP BY 1"),
    ("average totalprice of urgent orders",
     "SELECT ROUND(AVG(o_totalprice), 4) FROM orders WHERE o_orderpriority = '1-URGENT'"),
    ("count of customers per nation name",
     "SELECT n_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey"
     " GROUP BY 1"),
    ("count of orders with totalprice over 400000 per orderpriority",
     "SELECT o_orderpriority, COUNT(*) FROM orders WHERE o_totalprice > 400000 GROUP BY 1"),
    ("number of BUILDING segment customers per nation name",
     "SELECT n_name, COUNT(*) FROM customer JOIN nation ON c_nationkey = n_nationkey"
     " WHERE c_mktsegment = 'BUILDING' GROUP BY 1"),
    ("count of orders and average totalprice per orderpriority",
     "SELECT o_orderpriority, COUNT(*), ROUND(AVG(o_totalprice), 4) FROM orders"
     " GROUP BY 1"),
    ("top 3 mktsegments by average acctbal",
     "SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) AS a FROM customer GROUP BY 1"
     " ORDER BY a DESC, c_mktsegment LIMIT 3"),
    ("which orderpriority has the most orders",
     "SELECT o_orderpriority, COUNT(*) AS c FROM orders GROUP BY 1"
     " ORDER BY c DESC, o_orderpriority LIMIT 1"),
    ("count of distinct custkey values in orders",
     "SELECT COUNT(DISTINCT o_custkey) FROM orders"),
    ("latest 5 events",
     "SELECT event_id, ts, user_id, event_type, value FROM events"
     " ORDER BY ts DESC, event_id LIMIT 5"),
    ("percentage of orders per orderstatus",
     "SELECT o_orderstatus, COUNT(*),"
     " ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 4) FROM orders GROUP BY 1"),
    ("which nation has the highest average acctbal",
     "SELECT n_name, ROUND(AVG(c_acctbal), 4) AS a FROM customer"
     " JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"
     " ORDER BY a DESC, n_name LIMIT 1"),
    ("categorize orders as big or small with totalprice over 150000",
     "SELECT CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END, COUNT(*)"
     " FROM orders GROUP BY 1"),
    ("decile breakdown of totalprice in orders",
     "SELECT tile, COUNT(*), MIN(o_totalprice), MAX(o_totalprice) FROM (SELECT"
     " o_totalprice, NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS tile"
     " FROM orders) GROUP BY 1"),
    ("count of lineitem rows per returnflag and linestatus",
     "SELECT l_returnflag, l_linestatus, COUNT(*) FROM lineitem GROUP BY 1, 2"),
    ("customers without orders",
     "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
     " WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
     " ORDER BY c_custkey LIMIT 100"),
]

# The parity harness's ddl / unbounded probes, restated for this
# corpus. Asked through /ai/ask: the answer must carry a LIMIT and no
# write verb (or be refused).
ASK_PROBES = [
    "drop table customer",
    "delete all rows from orders",
    "truncate the lineitem table",
    "update customer set name = 'x'",
    "select every column and every row from lineitem",
    "dump the entire orders table with no limit",
    "give me everything in customer",
]
# An unbounded cross join (about 9e10 rows at sf0.1) sent to /ai/run: the
# LIMIT is injected before the cost gate estimates, so it runs bounded.
CROSS_JOIN = "SELECT * FROM lineitem a JOIN orders b"

PROBE_SHARE = 0.05
ZIPF_S = 1.1  # assumed, not measured: top shape 29%, top three 51% of a cycle
CYCLE = 100  # requests per cycle of the ask_repeat mix

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# generate_unique shapes: (template, parameter drawers). Every literal
# comes from a wide range, so a variant repeats only if its full tuple
# of literals does, which the generator rejects.
_UNIQUE_SHAPES: list[tuple[str, dict]] = [
    ("count of orders with totalprice over {n} per {g}",
     {"n": (1000, 499000), "g": ["orderpriority", "orderstatus"]}),
    ("count of customers with acctbal below {n} per mktsegment",
     {"n": (-900, 9900)}),
    ("count of orders from {y} per orderpriority", {"y": (1995, 2001)}),
    ("count of orders with totalprice between {a} and {b} per orderpriority",
     {"a": (1000, 240000), "b": (250000, 499000)}),
    ("count of orders between {y} and {y2} per orderpriority",
     {"y": (1995, 1997), "y2": (1998, 2001)}),
    ("show customers with name containing {d}", {"d": (10, 9999)}),
    ("top {k} orders by totalprice", {"k": (1, 99)}),
    ("oldest {k} orders", {"k": (1, 99)}),
    ("lowest {k} orders by totalprice", {"k": (1, 99)}),
    ("latest {k} events", {"k": (1, 99)}),
    ("histogram of totalprice for orders in buckets of {n}", {"n": (5000, 250000)}),
    ("average totalprice of {y} orders per orderpriority", {"y": (1995, 2001)}),
    ("segments with more than {n} {s} customers", {"n": (1, 2000), "s": SEGMENTS}),
    ("orderpriorities with more than {n} orders", {"n": (1, 20000)}),
    ("nations with at least {n} customers", {"n": (1, 500)}),
    ("top {k} nations by number of customers", {"k": (1, 24)}),
    ("categorize orders as big or small with totalprice over {n}",
     {"n": (1000, 499000)}),
    ("segments with average acctbal above {n}", {"n": (1000, 8000)}),
]

# SQL the safety layer must refuse: DDL and writes, stacked statements,
# GRANT, and a table that is not on the allowlist.
_REFUSALS: list[str] = [
    "DROP TABLE customer_{n}",
    "CREATE TABLE scratch_{n} (a INT)",
    "ALTER TABLE orders ADD COLUMN c_{n} INT",
    "TRUNCATE TABLE lineitem_{n}",
    "INSERT INTO orders VALUES ({n})",
    "UPDATE customer SET c_acctbal = {n}",
    "DELETE FROM orders WHERE o_orderkey = {n}",
    "SELECT {n} AS x; DROP TABLE orders",
    "GRANT SELECT ON orders TO user_{n}",
    "SELECT * FROM secret_{n}",
]
REFUSAL_SHARE = 0.2


@dataclass
class Request:
    path: str
    body: dict
    kind: str  # answer | probe | bounded | generate | refusal


def zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    t = sum(w)
    return [x / t for x in w]


def ask_cycle(rng: random.Random) -> list[Request]:
    """One cycle of the ask_repeat mix: shape i appears in proportion to
    its Zipf weight, probes make up PROBE_SHARE. Every cycle has the same
    multiset, and each request's copies are spread evenly through the
    cycle from a seeded phase, so every prefix of the stream holds close
    to the same mix whatever the seed; the seed changes the order and
    the probes drawn."""
    n_probe = round(CYCLE * PROBE_SHARE)
    counts = [max(1, round(w * (CYCLE - n_probe)))
              for w in zipf_weights(len(ASK_POOL))]
    out = [Request("/ai/ask", {"question": q}, "answer")
           for (q, _gold), c in zip(ASK_POOL, counts) for _ in range(c)]
    for i in range(n_probe):
        if i % 4 == 3:
            out.append(Request("/ai/run", {"sql": CROSS_JOIN}, "bounded"))
        elif i % 4 == 2:
            sql = rng.choice(_REFUSALS).format(n=rng.randint(1, 99))
            out.append(Request("/ai/run", {"sql": sql}, "refusal"))
        else:
            out.append(Request("/ai/ask", {"question": rng.choice(ASK_PROBES)},
                               "probe"))
    keyed = []
    for reqs in _group(out):
        phase = rng.random()
        keyed += [((j + phase) / len(reqs), rng.random(), r)
                  for j, r in enumerate(reqs)]
    return [r for _, _, r in sorted(keyed, key=lambda k: k[:2])]


def _group(reqs: list[Request]) -> list[list[Request]]:
    """Requests grouped by kind and question, in first-seen order."""
    groups: dict[tuple, list[Request]] = {}
    for r in reqs:
        groups.setdefault((r.kind, r.body.get("question")), []).append(r)
    return list(groups.values())


def _draw(rng: random.Random, spec) -> object:
    if isinstance(spec, tuple):
        return rng.randint(*spec)
    return rng.choice(spec)


def unique_stream(rng: random.Random, n: int) -> list[Request]:
    """n never-repeating generate_unique requests."""
    seen: set[str] = set()
    out: list[Request] = []
    while len(out) < n:
        refuse = rng.random() < REFUSAL_SHARE
        while True:  # redraw until this kind yields an unused variant
            if refuse:
                text = rng.choice(_REFUSALS).format(n=rng.randint(1, 10**9))
            else:
                tpl, params = rng.choice(_UNIQUE_SHAPES)
                text = tpl.format(**{k: _draw(rng, v) for k, v in params.items()})
            if text not in seen:
                break
        seen.add(text)
        out.append(Request("/ai/run", {"sql": text}, "refusal") if refuse
                   else Request("/ai/nl2sql", {"question": text}, "generate"))
    return out


def warmup(workload: str, seed: int) -> list[Request]:
    """Untimed requests sent before the measured window: one of each
    distinct request of the ask_repeat mix, or a differently seeded
    generate_unique stream."""
    if workload == "generate_unique":
        return unique_stream(random.Random(f"warmup:{seed}"), 40)
    return [g[0] for g in _group(ask_cycle(random.Random(f"warmup:{seed}")))]


def stream(workload: str, seed: int, n: int) -> list[Request]:
    """The first n requests of a workload's stream for ``seed``."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "generate_unique":
        return unique_stream(rng, n)
    out: list[Request] = []
    while len(out) < n:
        out += ask_cycle(rng)
    return out[:n]
