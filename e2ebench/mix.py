"""The serving mix: seeded requests and their expected answers.

Routes follow a fixed cycle with the mix's exact proportions, so a short
run's median does not depend on how many slow routes the dice picked.
Keys are Zipf-skewed over a seeded order of accounts and pages, so a few
request shapes repeat (and hit the edge's plan cache) while the long tail
stays cold. Every response body is checked against a frozen view of the
ledger.
"""

import bisect
import json
import random
from decimal import Decimal
from urllib.parse import urlencode

ROUTES = ("account", "accounts", "transfers", "transfers_resolve", "balances", "graphql")
WEIGHTS = (6, 3, 4, 2, 2, 3)  # requests of each route in one cycle of 20
PAGE = 20
GQL_PAGE = 10
ZIPF_S = 1.1
PHI = (5 ** 0.5 - 1) / 2

GQL_DOC = ('{ transfers(tenant: "%s", limit: %d, offset: %d) '
           '{ transaction transfer amount credit { name balance } debit { name balance } } }')


class View:
    """An immutable copy of what the ledger holds for some tenants."""

    def __init__(self, journal, tenants):
        self.tenants = list(tenants)
        self.accounts = {t: [(n,) + journal.accounts[t][n] for n in sorted(journal.accounts[t])]
                         for t in self.tenants}
        self.transfers = {t: sorted(journal.transfers[t], key=lambda r: (r[0], r[1]))
                          for t in self.tenants}
        self.balance = {k: v for k, v in journal.balance.items() if k[0] in self.tenants}

    def bal(self, tenant, name):
        return self.balance.get((tenant, name), Decimal(0))


def _zipf_cdf(n):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** ZIPF_S
        out.append(acc)
    return out


def schedule():
    """One cycle of routes, interleaved by smooth weighted round-robin."""
    credit, out = [0] * len(ROUTES), []
    for _ in range(sum(WEIGHTS)):
        credit = [c + w for c, w in zip(credit, WEIGHTS)]
        i = credit.index(max(credit))
        credit[i] -= sum(WEIGHTS)
        out.append(ROUTES[i])
    return out


class Mix:
    """Request stream of one client; the same seed gives the same requests.

    The clients of one load share `seed` and each has its own `lane` of
    `lanes`. The lane starts the client at another point of the route
    cycle, so concurrent clients do not send the same route at once.
    `popularity` seeds which keys are hot; all loads of a run share it.
    """

    def __init__(self, view, seed, lane=0, lanes=1, popularity=None):
        self.view = view
        self.rng = random.Random(seed * lanes + lane)
        self.cycle = schedule()
        self.sent = lane * 5
        self.lane, self.lanes = lane, lanes
        order = random.Random((seed if popularity is None else popularity) ^ 0x5EED)

        def shuffled(n):
            out = list(range(max(1, n)))
            order.shuffle(out)
            return out

        # Zipf ranks map to seeded orders of each route's key space
        self.acct_order, self.acct_pages, self.tr_pages, self.gql_pages, self.key_order = \
            {}, {}, {}, {}, {}
        for t in view.tenants:
            names = [a[0] for a in view.accounts[t]]
            order.shuffle(names)
            self.acct_order[t] = names
            n_tr = len(view.transfers[t])
            self.acct_pages[t] = shuffled(-(-len(names) // PAGE))
            self.tr_pages[t] = shuffled(-(-n_tr // PAGE))
            self.gql_pages[t] = shuffled(-(-n_tr // GQL_PAGE))
            self.key_order[t] = shuffled(n_tr)
        # one draw sequence per key space, shared by the lanes
        starts = random.Random(seed ^ 0xD1CE)
        self.start = {id(k): starts.random() for spaces in (
            self.acct_order, self.acct_pages, self.tr_pages, self.gql_pages, self.key_order)
            for _, k in sorted(spaces.items())}
        self.cdfs, self.drawn, self.route_sent = {}, {}, {}

    def _pick(self, seq):
        """A Zipf-ranked element of `seq`.

        Each key space draws from one golden-ratio sequence, not from
        independent random numbers, and lane i of n takes its points i,
        i + n, i + 2n, ... So the lanes together cover a prefix of the
        sequence, and every run sees about the same share of hot and cold
        ranks. The plan caches' hit ratio, which changes a GraphQL
        request's cost tenfold, then does not vary from run to run by
        chance.
        """
        cdf = self.cdfs.get(len(seq))
        if cdf is None:
            cdf = self.cdfs[len(seq)] = _zipf_cdf(len(seq))
        k = self.drawn.get(id(seq), 0)
        self.drawn[id(seq)] = k + 1
        u = (self.start[id(seq)] + (k * self.lanes + self.lane) * PHI) % 1.0
        return seq[bisect.bisect_left(cdf, u * cdf[-1])]

    def next(self, route=None):
        """(route, method, path, body, expected-answer key); `route` forces one."""
        rng = self.rng
        route = route or self.cycle[self.sent % len(self.cycle)]
        self.sent += 1
        # tenants in turn, so each tenant's key spaces get an even share
        n = self.route_sent.get(route, 0)
        self.route_sent[route] = n + 1
        t = self.view.tenants[(n * self.lanes + self.lane) % len(self.view.tenants)]
        n_tr = len(self.view.transfers[t])
        if route == "account":
            name = self._pick(self.acct_order[t])
            q = urlencode({"tenant": t, "name": name})
            return route, "GET", "/account?" + q, None, (t, name)
        if route == "accounts":
            off = self._pick(self.acct_pages[t]) * PAGE
            q = urlencode({"tenant": t, "limit": PAGE, "offset": off})
            return route, "GET", "/accounts?" + q, None, (t, off)
        if route in ("transfers", "transfers_resolve"):
            resolve = route == "transfers_resolve"
            if rng.random() < 0.5 and n_tr:
                # keyset page after a Zipf-chosen transfer
                i = self._pick(self.key_order[t])
                tx, tr = self.view.transfers[t][i][:2]
                args = {"tenant": t, "limit": PAGE, "after": f"{tx},{tr}"}
                start = i + 1
            else:
                start = self._pick(self.tr_pages[t]) * PAGE
                args = {"tenant": t, "limit": PAGE, "offset": start}
            if resolve:
                args["resolve"] = "true"
            return route, "GET", "/transfers?" + urlencode(args), None, (t, start)
        if route == "balances":
            return route, "GET", "/balances?" + urlencode({"tenant": t}), None, (t,)
        off = self._pick(self.gql_pages[t]) * GQL_PAGE
        body = json.dumps({"query": GQL_DOC % (t, GQL_PAGE, off)})
        return route, "POST", "/graphql", body, (t, off)


def _close(a, b):
    return abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(b)))


def check(view, route, key, body):
    """None when `body` is the right answer, else what differs."""
    try:
        doc = json.loads(body, parse_float=Decimal)
    except ValueError:
        return "not JSON"
    if route == "account":
        t, name = key
        a = next(a for a in view.accounts[t] if a[0] == name)
        want = [(t, name, a[1], a[2], view.bal(t, name))]
        got = [(r["tenant"], r["name"], r["currency"], r["format"], r["balance"]) for r in doc]
        return _diff(got, want)
    if route == "accounts":
        t, off = key
        want = [(t, n, c, f, view.bal(t, n)) for n, c, f in view.accounts[t][off:off + PAGE]]
        got = [(r["tenant"], r["name"], r["currency"], r["format"], r["balance"]) for r in doc]
        return _diff(got, want)
    if route in ("transfers", "transfers_resolve"):
        t, start = key
        rows = view.transfers[t][start:start + PAGE]
        want = [(tx, tr, st, c, d, amt) for tx, tr, st, c, d, amt, _ in rows]
        got = [(r["transaction"], r["transfer"], r["status"], r["credit_name"],
                r["debit_name"], r["amount"]) for r in doc]
        if route == "transfers_resolve":
            want = [w + (view.bal(t, w[3]), view.bal(t, w[4])) for w in want]
            got = [g + (r["credit_balance"], r["debit_balance"]) for g, r in zip(got, doc)]
        return _diff(got, want)
    if route == "balances":
        (t,) = key
        want = sorted((n, b) for (tt, n), b in view.balance.items() if tt == t)
        got = [(r["name"], r["balance"]) for r in doc]
        return _diff(got, want)
    t, off = key
    rows = view.transfers[t][off:off + GQL_PAGE]
    want = [(tx, tr, amt, c, view.bal(t, c), d, view.bal(t, d)) for tx, tr, _, c, d, amt, _ in rows]
    got = [(r["transaction"], r["transfer"], r["amount"], r["credit"]["name"],
            r["credit"]["balance"], r["debit"]["name"], r["debit"]["balance"])
           for r in doc["data"]["transfers"]]
    return _diff(got, want)


def _diff(got, want):
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        for x, y in zip(g, w):
            same = _close(x, y) if isinstance(y, Decimal) else x == y
            if not same:
                return f"row {g} != expected {w}"
    return None
