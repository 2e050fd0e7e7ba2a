"""Constant-velocity Kalman model for box tracking.

The reference's 6-state filter (reference tracking.py:234-369): state
``[cx, cy, vx, vy, w, h]``, predict advances position by velocity,
update corrects position/size from a measurement ``[cx, cy, w, h]``.
This module holds the model constants only; `SequenceTracker.step`
(tracker/batch.py) applies the standard Kalman equations (predict:
x=Fx, P=FPF'+Q; update: K=PH'(HPH'+R)^-1, x+=K(z-Hx), P=(I-KH)P) to
every live track at once. A new track starts at x=[cx, cy, 0, 0, w, h],
P=P0.
"""

from __future__ import annotations

import numpy as np

STATE_DIM = 6
MEAS_DIM = 4

# Transition: cx += vx, cy += vy (frame tick = 1).
F_MAT = np.eye(STATE_DIM)
F_MAT[0, 2] = 1.0
F_MAT[1, 3] = 1.0

# Measurement picks [cx, cy, w, h].
H_MAT = np.zeros((MEAS_DIM, STATE_DIM))
H_MAT[0, 0] = 1.0
H_MAT[1, 1] = 1.0
H_MAT[2, 4] = 1.0
H_MAT[3, 5] = 1.0

# Noise shared by every filter: process Q, measurement R, and the initial
# covariance P0 (unit position/size variance, velocity variance 10).
Q_MAT = np.eye(STATE_DIM)
R_MAT = np.eye(MEAS_DIM)
P0_MAT = np.eye(STATE_DIM)
P0_MAT[2, 2] = 10.0
P0_MAT[3, 3] = 10.0

