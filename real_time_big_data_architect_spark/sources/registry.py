"""Source catalog — the reference's ``SOURCES`` dict re-expressed
(app.py:40-52): 10 keyless public JSON HTTP APIs, each with its label,
URL, description and optional headers (S2: User-Agent for weather.gov,
app.py:71-72). The S4 row caps are applied where the rows are cut: the
``limit=`` parameter in the URL (app.py:42,45,48) and normalize's
``GITHUB_CLIENT_CAP`` head slice for github (app.py:144).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class SourceSpec:
    key: str
    label: str
    url: str
    description: str
    headers: dict[str, str] = field(default_factory=dict)


SOURCES: dict[str, SourceSpec] = {
    s.key: s
    for s in [
        SourceSpec(
            "openaq",
            "Air quality (OpenAQ)",
            "https://api.openaq.org/v2/latest?limit=20&sort=desc",  # app.py:42
            "city/parameter measurements",
        ),
        SourceSpec(
            "open_meteo",
            "Weather (Open-Meteo, London)",
            # London coords, matching the reference catalog (app.py:43)
            "https://api.open-meteo.com/v1/forecast?latitude=51.5072&longitude=-0.1276&current=temperature_2m,wind_speed_10m",
            "current weather snapshot",
        ),
        SourceSpec(
            "coingecko",
            "Crypto prices (CoinGecko)",
            "https://api.coingecko.com/api/v3/simple/price?ids=bitcoin,ethereum&vs_currencies=usd",
            "spot prices keyed by asset",
        ),
        SourceSpec(
            "usgs_quakes",
            "Earthquakes (USGS)",
            "https://earthquake.usgs.gov/fdsnws/event/1/query?format=geojson&limit=50",
            "recent quakes GeoJSON",
        ),
        SourceSpec(
            "spacex",
            "SpaceX latest launch",
            "https://api.spacexdata.com/v4/launches/latest",
            "latest launch record",
        ),
        SourceSpec(
            "github_events",
            "GitHub public events",
            "https://api.github.com/events",
            "public event feed",
        ),
        SourceSpec(
            "nws_alerts",
            "Weather alerts (NWS)",
            "https://api.weather.gov/alerts/active?limit=20",
            "active US alerts",
            headers={"User-Agent": "real-time-big-data-architect-spark"},
        ),
        SourceSpec(
            "fx_rates",
            "FX rates (exchangerate.host)",
            # the reference's endpoint incl. base/symbols params (app.py:49)
            "https://api.exchangerate.host/latest?base=USD&symbols=EUR,GBP,JPY,INR",
            "rates keyed by currency",
        ),
        SourceSpec(
            "iss_now",
            "ISS position",
            "http://api.open-notify.org/iss-now.json",
            "current ISS lat/long",
        ),
        SourceSpec(
            "binance",
            "Binance BTC ticker",
            "https://api.binance.com/api/v3/ticker/price?symbol=BTCUSDT",
            "single symbol/price pair",
        ),
    ]
}
