"""Seeded vendor feed and lookup dimensions for the poll workloads.

The generator decides, for every record it emits, which pipeline rung the
record can reach, so the expected per-stage counts of every poll follow
from the generator alone and never from the program under test:

- a device's uid may be missing from ``uid_map`` (stuck before serial);
- its serial may be missing from ``serial_map`` (stuck before device id);
- a record whose recording days fall outside every closed wear interval of
  its device stays without a patient.

All timestamps lie in the past and every wear interval is closed, so no
result depends on the calendar date the benchmark runs on. A record of
bucket day ``D`` starts between ``D 13:00`` and ``D+1 09:00`` UTC, so under
the pipeline's 12:00 cut-off its upload group is ``(patient, device, D)``.
Consecutive polls cover disjoint bucket days, so no late record joins a
group that is already uploaded.
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass, field

import numpy as np

DAY = 86_400
# 2021-01-04 00:00:00 UTC: every generated day lies years in the past.
BASE_EPOCH = 1_609_718_400

API_SCHEMA_DDL = (
    "id string, device string, "
    "report struct<start_time: bigint, stop_time: bigint>, data_url string"
)


@dataclass
class Fleet:
    uid_map: list[tuple[str, str]]
    serial_map: list[tuple[str, str]]
    assignments: list[tuple[str, str, int, int]]  # device, patient, start, end (epoch s)
    uids: list[str]
    serials: list[str]
    device_ids: list[str]
    has_serial: list[bool]
    has_device: list[bool]
    # per device: sorted interval start days, end days (inclusive) and patients
    wear: list[tuple[list[int], list[int], list[str]]]

    def patient_for(self, dev: int, first_day: int, last_day: int) -> str | None:
        starts, ends, patients = self.wear[dev]
        i = bisect.bisect_right(starts, first_day) - 1
        if i >= 0 and last_day <= ends[i]:
            return patients[i]
        return None


def make_fleet(rng: np.random.Generator, n_devices: int, n_days: int) -> Fleet:
    """Devices with closed wear intervals covering ``[0, n_days)`` with gaps.
    One device in 16 has no serial mapping and another one in 16 no device
    id mapping; the seed picks which."""
    uid_map, serial_map, assignments = [], [], []
    uids, serials, device_ids, has_serial, has_device, wear = [], [], [], [], [], []
    stuck = rng.permutation(n_devices)[: 2 * max(1, n_devices // 16)]
    no_serial, no_device = set(stuck[::2].tolist()), set(stuck[1::2].tolist())
    for k in range(n_devices):
        uid, serial, dev = f"uid-{k:04d}", f"SER-{k:04d}", f"NR{k:04d}-DEVICE"
        s_ok = k not in no_serial
        d_ok = k not in no_device
        uids.append(uid)
        serials.append(serial)
        device_ids.append(dev)
        has_serial.append(s_ok)
        has_device.append(d_ok)
        if s_ok:
            uid_map.append((uid, serial))
        if d_ok:
            serial_map.append((serial, dev))
        starts, ends, patients = [], [], []
        day = -int(rng.integers(0, 10))
        j = 0
        while day < n_days + 2:
            length = int(rng.integers(12, 40))
            patient = f"P{k:04d}{j:03d}-PATIENT"
            starts.append(day)
            ends.append(day + length)
            patients.append(patient)
            # wear times carry a time of day; containment is by calendar day
            assignments.append(
                (
                    dev,
                    patient,
                    BASE_EPOCH + day * DAY + int(rng.integers(0, DAY)),
                    BASE_EPOCH + (day + length) * DAY + int(rng.integers(0, DAY)),
                )
            )
            day += length + 1 + int(rng.integers(2, 6))
            j += 1
        wear.append((starts, ends, patients))
    return Fleet(
        uid_map, serial_map, assignments, uids, serials, device_ids, has_serial,
        has_device, wear,
    )


@dataclass
class Batch:
    """One delivery of new records plus what the pipeline must make of it."""

    rows: list[dict]
    # per record: (id, device_serial, device_id, patient_id) once resolved
    truth: list[tuple] = field(default_factory=list)
    serials: int = 0
    devices: int = 0
    patients: int = 0
    groups: set = field(default_factory=set)

    def expected(self) -> dict[str, int]:
        return {
            "ingested": len(self.rows),
            "serials": self.serials,
            "devices": self.devices,
            "patients": self.patients,
            "grouped": self.patients,
            "groups": len(self.groups),
        }


def make_batch(
    rng: np.random.Generator,
    fleet: Fleet,
    first_day: int,
    n_days: int,
    n_records: int,
    id_prefix: str,
) -> Batch:
    """``n_records`` recordings spread over bucket days
    ``[first_day, first_day + n_days)``."""
    n_dev = len(fleet.uids)
    devs = rng.integers(0, n_dev, n_records)
    days = first_day + rng.integers(0, n_days, n_records)
    # start in [D 13:00, D+1 09:00), 10 to 50 minutes long
    offs = 13 * 3600 + rng.integers(0, 20 * 3600, n_records)
    durs = rng.integers(600, 3000, n_records)
    batch = Batch(rows=[])
    for i in range(n_records):
        dev, day = int(devs[i]), int(days[i])
        start = BASE_EPOCH + day * DAY + int(offs[i])
        stop = start + int(durs[i])
        batch.rows.append(
            {
                "id": f"{id_prefix}-{i:07d}",
                "device": fleet.uids[dev],
                "report": {"start_time": start, "stop_time": stop},
                "data_url": f"https://vendor.invalid/{id_prefix}/{i}",
            }
        )
        serial = device_id = patient = None
        if fleet.has_serial[dev]:
            serial = fleet.serials[dev]
            batch.serials += 1
        if serial and fleet.has_device[dev]:
            device_id = fleet.device_ids[dev]
            batch.devices += 1
            patient = fleet.patient_for(
                dev, (start - BASE_EPOCH) // DAY, (stop - BASE_EPOCH) // DAY
            )
        if patient is not None:
            batch.patients += 1
            batch.groups.add((patient, dev, day))
        batch.truth.append((batch.rows[-1]["id"], serial, device_id, patient))
    return batch


class VendorApi:
    """Paginated vendor endpoint over an in-memory record list, in the
    reference's envelope: ``fetch(cursor) -> (rows, next_cursor)``."""

    def __init__(self, rows: list[dict], page_size: int = 1000) -> None:
        self.rows = rows
        self.page_size = page_size

    def __call__(self, cursor: str | None) -> tuple[list[dict], str | None]:
        start = int(cursor) if cursor else 0
        stop = min(start + self.page_size, len(self.rows))
        return self.rows[start:stop], (str(stop) if stop < len(self.rows) else None)
