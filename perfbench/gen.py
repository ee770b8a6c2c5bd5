"""Seeded input generators for the benchmark.

Everything here is pure Python driven by ``random.Random(seed)``: the
same seed yields byte-identical documents. The program under test sees
only what these functions generate.

- :class:`Agency` is a NextBus-shaped agency: routes, each with two
  directions, a stop list and a fleet of vehicles, rendered as the
  ``routeList`` / ``routeConfig`` / ``vehicleLocations`` XML documents
  the app consumes.
- :meth:`Agency.write_config` writes the config-document snapshot
  directory the app's ``--config`` flag reads.
- :meth:`Agency.mutate` produces the next "day" of the agency for the
  refresh workload (renamed and moved stops, reordered directions).
"""

from __future__ import annotations

import copy
import os
import random
from dataclasses import dataclass, field
from xml.sax.saxutils import quoteattr

AGENCY_TAG = "bench-transit"


@dataclass
class Route:
    tag: str
    title: str
    #: [(stop_tag, title, lon, lat)] in body order
    stops: list[tuple[str, str, str, str]]
    #: [(dir_tag, title, name, use_for_ui, [stop_tag, ...])]
    directions: list[tuple[str, str, str, bool, list[str]]]
    #: [(vehicle_id, dir_tag)]
    vehicles: list[tuple[str, str]] = field(default_factory=list)


def _coord(rng: random.Random, base: float) -> str:
    return f"{base + rng.uniform(-0.2, 0.2):.6f}"


class Agency:
    """A seeded agency of ``n_routes`` routes × 2 directions ×
    ``n_stops`` stops × ``n_vehicles`` vehicles."""

    def __init__(
        self,
        seed: int,
        n_routes: int = 60,
        n_stops: int = 40,
        n_vehicles: int = 12,
    ):
        rng = random.Random(f"agency:{seed}")
        self.seed = seed
        self.routes: list[Route] = []
        for r in range(n_routes):
            tag = f"R{r:03d}"
            stops = [
                (f"{tag}s{i:03d}", f"Stop {tag}-{i}",
                 _coord(rng, -122.4), _coord(rng, 37.7))
                for i in range(n_stops)
            ]
            order = [s[0] for s in stops]
            directions = [
                (f"{tag}_O", "Outbound", "Outbound", True, list(order)),
                (f"{tag}_I", "Inbound", "Inbound", False, order[::-1]),
            ]
            vehicles = [
                (f"{tag}v{j:02d}", directions[j % 2][0])
                for j in range(n_vehicles)
            ]
            self.routes.append(
                Route(tag, f"Route {tag}", stops, directions, vehicles)
            )

    # -- config documents ------------------------------------------------

    @staticmethod
    def agency_list_xml() -> str:
        return (f"<body><agency tag={quoteattr(AGENCY_TAG)} "
                'title="Bench Transit" regionTitle="Bench"/></body>')

    def route_list_xml(self) -> str:
        items = "".join(
            f"<route tag={quoteattr(r.tag)} title={quoteattr(r.title)}/>"
            for r in self.routes
        )
        return f"<body>{items}</body>"

    @staticmethod
    def route_config_xml(route: Route) -> str:
        parts = [f"<body><route tag={quoteattr(route.tag)}>"]
        for tag, title, lon, lat in route.stops:
            parts.append(
                f"<stop tag={quoteattr(tag)} title={quoteattr(title)} "
                f'lon="{lon}" lat="{lat}"/>'
            )
        for dtag, title, name, ui, order in route.directions:
            parts.append(
                f"<direction tag={quoteattr(dtag)} title={quoteattr(title)} "
                f'name={quoteattr(name)} useForUI="{str(ui).lower()}">'
            )
            parts.extend(f"<stop tag={quoteattr(s)}/>" for s in order)
            parts.append("</direction>")
        parts.append("</route></body>")
        return "".join(parts)

    def write_config(self, config_dir: str) -> None:
        """``agencyList.xml``, ``routeList.xml`` and one
        ``routeConfig__<tag>.xml`` per route under ``config_dir``."""
        docs = {"agencyList.xml": self.agency_list_xml(),
                "routeList.xml": self.route_list_xml()}
        for r in self.routes:
            docs[f"routeConfig__{r.tag}.xml"] = self.route_config_xml(r)
        os.makedirs(config_dir)
        for name, text in docs.items():
            with open(os.path.join(config_dir, name), "w",
                      encoding="utf-8") as f:
                f.write(text)

    # -- refresh days ------------------------------------------------------

    def mutate(self, rng: random.Random, share: float = 0.1) -> Agency:
        """The next day's agency: on a seeded ``share`` of routes one
        stop is renamed, one stop moves (a new location, so a new
        ``stop`` key) and one direction is reordered."""
        nxt = copy.deepcopy(self)
        n_changed = max(1, round(share * len(nxt.routes)))
        for route in rng.sample(nxt.routes, n_changed):
            i, j = rng.sample(range(len(route.stops)), 2)
            tag, title, lon, lat = route.stops[i]
            route.stops[i] = (tag, title + "'", lon, lat)
            tag, title, lon, lat = route.stops[j]
            route.stops[j] = (tag, title, _coord(rng, -122.4),
                              _coord(rng, 37.7))
            k = rng.randrange(len(route.directions))
            dtag, dtitle, dname, ui, order = route.directions[k]
            order = list(order)
            a, b = rng.sample(range(len(order)), 2)
            order[a], order[b] = order[b], order[a]
            route.directions[k] = (dtag, dtitle, dname, ui, order)
        return nxt

    # -- vehicle feed -------------------------------------------------------

    def vehicle_doc(
        self, route: Route, time_ms: int, rng: random.Random,
        max_secs: int = 9, last: dict | None = None,
        repeat_share: float = 0.0,
    ) -> tuple[str, list[tuple[str, str, int]]]:
        """One ``vehicleLocations`` document for ``route`` at
        ``time_ms`` → (xml, [(dir_tag, vehicle_id, location_epoch_s)]).

        A fresh report has ``secsSinceReport`` at or below ``max_secs``,
        so two documents of one route at least ``max_secs + 1`` seconds
        apart never share a ``(vehicle, location_timestamp)`` key.

        ``last`` is the caller's ``{vehicle_id: (location_s, lon, lat)}``
        for this route, updated in place. With it, a seeded
        ``repeat_share`` of vehicles repeat their last report (same
        position and location time, an older ``secsSinceReport``), as
        the feed does for a vehicle that has not reported since: both
        documents then carry the same key."""
        parts = ["<body>"]
        keys = []
        # The app rounds lastTime to whole seconds (route.py:165-167).
        req_s = int((time_ms + 500) // 1000)
        for vid, dtag in route.vehicles:
            prev = last.get(vid) if last is not None else None
            if prev is not None and rng.random() < repeat_share:
                loc_s, lon, lat = prev
            else:
                loc_s = req_s - rng.randint(0, max_secs)
                lon, lat = _coord(rng, -122.4), _coord(rng, 37.7)
            if last is not None:
                last[vid] = (loc_s, lon, lat)
            parts.append(
                f"<vehicle id={quoteattr(vid)} dirTag={quoteattr(dtag)} "
                f'lon="{lon}" lat="{lat}" '
                f'secsSinceReport="{req_s - loc_s}" predictable="true" '
                'heading="90" speedKmHr="20"/>'
            )
            keys.append((dtag, vid, loc_s))
        parts.append(f'<lastTime time="{time_ms}"/></body>')
        return "".join(parts), keys


def publish(spool: str, route_tag: str, time_ms: int, xml: str) -> str:
    """Atomic publish per the feed source's fetcher contract: write a
    temp name the ``<route>__<ms>.xml`` pattern does not match, then
    rename into place."""
    final = os.path.join(spool, f"{route_tag}__{time_ms}.xml")
    tmp = final + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(xml)
    os.replace(tmp, final)
    return final

