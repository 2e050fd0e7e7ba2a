"""Constant-velocity Kalman filter for box tracking.

Re-implements the reference's 6-state filter semantics from its
published behavior (reference tracking.py:234-369): state
``[cx, cy, vx, vy, w, h]``, predict advances position by velocity,
update corrects position/size from a measurement ``[cx, cy, w, h]``.
Written fresh in numpy against the standard Kalman equations
(predict: x=Fx, P=FPF'+Q; update: K=PH'(HPH'+R)^-1, x+=K(z-Hx),
P=(I-KH)P).
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


class KalmanBoxTracker:
    """Per-object constant-velocity filter (reference tracking.py:234-369)."""

    def __init__(self, cx: float, cy: float, w: float, h: float) -> None:
        self.x = np.array([cx, cy, 0.0, 0.0, w, h], dtype=np.float64)
        self.P = P0_MAT.copy()

    def predict(self) -> np.ndarray:
        self.x = F_MAT @ self.x
        self.P = F_MAT @ self.P @ F_MAT.T + Q_MAT
        return self.x.copy()

    def update(self, cx: float, cy: float, w: float, h: float) -> None:
        z = np.array([cx, cy, w, h], dtype=np.float64)
        y = z - H_MAT @ self.x
        S = H_MAT @ self.P @ H_MAT.T + R_MAT
        K = self.P @ H_MAT.T @ np.linalg.inv(S)
        self.x = self.x + K @ y
        self.P = (np.eye(STATE_DIM) - K @ H_MAT) @ self.P

    def position_uncertainty(self) -> float:
        """2σ positional search-radius term (reference tracking.py:407-435):
        ``2 * sqrt(P[0,0] + P[1,1])``."""
        return 2.0 * float(np.sqrt(self.P[0, 0] + self.P[1, 1]))
