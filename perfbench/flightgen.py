"""Seeded generator of the flight workload's inputs: a flights CSV with
the reference's 29 columns (graft.mlx.FlightSchema order) and a planes
CSV with the 9 plane-data columns.

The data is built to exercise every cleaning rule of FlightPipeline:
  - "NA" sentinels in numeric columns, and NA ArrDelay on diverted rows;
  - cancelled rows, each with a cancellation code;
  - TailNums missing from the planes table, and planes rows with an
    empty attribute or a "None" issue date;
  - an all-constant column (Distance), which the profile pass drops;
  - a planted ArrDelay = DepDelay + noise, the noise uniform on the
    integers -NOISE..NOISE, so a linear model's RMSE must come out near
    the noise's standard deviation.

generate() returns what the checks need: the row count that survives
cleaning and the noise's standard deviation.
"""
import csv
import math
import os
import random

FLIGHT_COLUMNS = [
    "Year", "Month", "DayofMonth", "DayOfWeek", "DepTime", "CRSDepTime",
    "ArrTime", "CRSArrTime", "UniqueCarrier", "FlightNum", "TailNum",
    "ActualElapsedTime", "CRSElapsedTime", "AirTime", "ArrDelay", "DepDelay",
    "Origin", "Dest", "Distance", "TaxiIn", "TaxiOut", "Cancelled",
    "CancellationCode", "Diverted", "CarrierDelay", "WeatherDelay",
    "NASDelay", "SecurityDelay", "LateAircraftDelay"]
PLANE_COLUMNS = ["tailnum", "type", "manufacturer", "issue_date", "model",
                 "status", "aircraft_type", "engine_type", "year"]

NOISE = 6
NOISE_SD = math.sqrt(((2 * NOISE + 1) ** 2 - 1) / 12.0)
AIRPORTS = ["ATL", "ORD", "DFW", "DEN", "LAX", "SFO", "JFK", "SEA"]
CARRIERS = ["AA", "UA", "DL", "WN"]
MAKERS = [("BOEING", "737-7H4"), ("AIRBUS", "A320-232"),
          ("EMBRAER", "EMB-145LR"), ("MCDONNELL DOUGLAS", "MD-88")]


def hhmm_add(hhmm, minutes):
    t = (hhmm // 100) * 60 + hhmm % 100 + minutes
    return (t // 60) * 100 + t % 60


def planes(rng, n_tails):
    """Plane rows for tails 0..n_tails-1; returns (rows, usable tail set)."""
    rows, usable = [], set()
    for i in range(n_tails):
        tail = f"N{100 + i}XX"
        if i % 10 == 9:
            continue  # flown but absent from the planes table
        maker, model = MAKERS[rng.randrange(len(MAKERS))]
        year = rng.randrange(1990, 2008)
        date = f"{rng.randrange(1, 13)}/{rng.randrange(1, 29)}/{year}"
        row = [tail, rng.choice(["Corporation", "Foreign Corporation"]), maker,
               date, model, "Valid", "Fixed Wing Multi-Engine",
               rng.choice(["Turbo-Fan", "Turbo-Jet"]), str(year)]
        if i % 10 == 7:
            row[3] = "None"  # no issue date
        elif i % 10 == 8:
            row[2] = ""  # empty manufacturer
        else:
            usable.add(tail)
        rows.append(row)
    return rows, usable


def generate(seed, n_rows, out_dir, n_tails=60):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    plane_rows, usable = planes(rng, n_tails)
    with open(os.path.join(out_dir, "planes.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(PLANE_COLUMNS)
        w.writerows(plane_rows)

    def na(p, v):
        return "NA" if rng.random() < p else v

    survivors = 0
    with open(os.path.join(out_dir, "flights.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(FLIGHT_COLUMNS)
        for _ in range(n_rows):
            tail = f"N{100 + rng.randrange(n_tails)}XX"
            crs_dep = rng.randrange(6, 21) * 100 + rng.randrange(60)
            elapsed = rng.randrange(60, 180)
            crs_arr = hhmm_add(crs_dep, elapsed)
            dep_delay = rng.randrange(-10, 51)
            arr_delay = dep_delay + rng.randrange(-NOISE, NOISE + 1)
            taxi_out = rng.randrange(5, 31)
            cancelled = rng.random() < 0.02
            diverted = not cancelled and rng.random() < 0.005
            row = {
                "Year": 2008, "Month": na(0.01, rng.randrange(1, 13)),
                "DayofMonth": rng.randrange(1, 29),
                "DayOfWeek": rng.randrange(1, 8),
                "DepTime": hhmm_add(crs_dep, dep_delay), "CRSDepTime": crs_dep,
                "ArrTime": hhmm_add(crs_arr, arr_delay),
                "CRSArrTime": na(0.01, crs_arr),
                "UniqueCarrier": rng.choice(CARRIERS),
                "FlightNum": rng.randrange(1, 3000), "TailNum": tail,
                "ActualElapsedTime": elapsed + arr_delay - dep_delay,
                "CRSElapsedTime": elapsed, "AirTime": elapsed - taxi_out - 5,
                "ArrDelay": arr_delay, "DepDelay": dep_delay,
                "Origin": rng.choice(AIRPORTS), "Dest": rng.choice(AIRPORTS),
                "Distance": 500, "TaxiIn": 5, "TaxiOut": na(0.02, taxi_out),
                "Cancelled": 0, "CancellationCode": "NA", "Diverted": 0,
            }
            late = arr_delay >= 15
            for c in ["CarrierDelay", "WeatherDelay", "NASDelay",
                      "SecurityDelay", "LateAircraftDelay"]:
                row[c] = rng.randrange(0, arr_delay + 1) if late else "NA"
            if cancelled:
                row.update(Cancelled=1, CancellationCode=rng.choice("ABCD"))
                for c in ["DepTime", "ArrTime", "ActualElapsedTime", "AirTime",
                          "ArrDelay", "DepDelay", "TaxiIn", "TaxiOut"]:
                    row[c] = "NA"
            elif diverted:
                row.update(Diverted=1, ArrTime="NA", ArrDelay="NA",
                           ActualElapsedTime="NA")
            elif tail in usable:
                survivors += 1
            w.writerow([row[c] for c in FLIGHT_COLUMNS])
    return {"survivors": survivors, "noise_sd": NOISE_SD,
            "flights": os.path.join(out_dir, "flights.csv"),
            "planes": os.path.join(out_dir, "planes.csv")}
