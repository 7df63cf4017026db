// Minimal DOM stub that drives the time-series twin's script on the
// SVG embedded in the page. Checks hover (nearest date, every series
// value, crosshair), the rangeslider (x mapped into the plot box, y as
// drawn, end labels follow the window) and that the script draws no
// y scale of its own. Prints one "ok" line per check; exits 1 on the
// first failure.
const fs = require("fs");
const assert = require("assert");
const htmlSrc = fs.readFileSync(process.argv[2], "utf8");
const dataJson = htmlSrc.match(/<script id="data" type="application\/json">(.*?)<\/script>/s)[1];
const js = htmlSrc.match(/<script>\n("use strict";[\s\S]*?)<\/script>/)[1];
const svgSrc = htmlSrc.match(/<svg[\s\S]*?<\/svg>/)[0];
const DATA = JSON.parse(dataJson);
const X = DATA.x, N = X.length, ML = DATA.ML, PW = DATA.PW;

const unesc = s => s.replace(/&lt;/g, "<").replace(/&gt;/g, ">").replace(/&amp;/g, "&");
function node(tag, attrs, text) {
  return {
    tag, attrs, textContent: text,
    getAttribute(k) { return k in this.attrs ? this.attrs[k] : null; },
    setAttribute(k, v) { this.attrs[k] = String(v); },
    cloneNode() { return node(this.tag, { ...this.attrs }, this.textContent); },
  };
}
// Elements of viz.py's SVG: one per line, self-closing or with text.
const children = [];
for (const m of svgSrc.matchAll(/<(\w+)([^>]*?)\/?>(?:([^<]*)<\/\1>)?/g)) {
  if (m[1] === "svg") continue;
  const attrs = {};
  for (const a of m[2].matchAll(/([\w:-]+)="([^"]*)"/g)) attrs[a[1]] = a[2];
  children.push(node(m[1], attrs, unesc(m[3] || "")));
}
const svg = {
  children, listeners: {},
  querySelectorAll(tag) { return this.children.filter(c => c.tag === tag); },
  appendChild(c) { this.children.push(c); return c; },
  addEventListener(ev, fn) { this.listeners[ev] = fn; },
  getBoundingClientRect() { return { left: 0, top: 0 }; },
};
function el(id) {
  return {
    id, innerHTML: "", textContent: id === "data" ? dataJson : "",
    style: {}, listeners: {}, value: "0", max: "0", min: "0",
    addEventListener(ev, fn) { this.listeners[ev] = fn; },
  };
}
const els = {};
global.document = {
  getElementById(id) { return (els[id] = els[id] || el(id)); },
  querySelector(sel) { assert.strictEqual(sel, "svg"); return svg; },
};

const polys = svg.querySelectorAll("polyline");
const drawn = polys.map(p => p.getAttribute("points").split(" ").filter(Boolean)
  .map(pt => pt.split(",").map(Number)));
const texts = svg.querySelectorAll("text");
const firstLabel = texts.find(t => t.textContent === X[0]);
const lastLabel = texts.find(t => t !== firstLabel && t.textContent === X[N - 1]);
assert.ok(firstLabel && lastLabel, "date end labels in the SVG");
assert.strictEqual(polys.length, DATA.series.length);
const before = svg.children.length;

eval(js);
const tip = els["tooltip"], lo = els["lo"], hi = els["hi"];
assert.strictEqual(svg.children.length, before + 1, "only the crosshair is added");
const xh = svg.children[before];

// 1) hover near the middle date: tooltip shows it and every series value
const mid = Math.floor(N / 2);
const xMid = ML + PW * mid / (N - 1);
svg.listeners["mousemove"]({ clientX: xMid + 0.2, clientY: 100, pageX: 400, pageY: 100 });
assert.strictEqual(tip.style.display, "block");
const tipLines = tip.innerHTML.split("<br>");
assert.strictEqual(tipLines[0], X[mid]);
DATA.series.forEach((s, si) => {
  const v = s.values[mid];
  assert.strictEqual(tipLines[si + 1], `${s.label}: ${v === null ? "-" : v}`);
});
assert.ok(Math.abs(+xh.getAttribute("x1") - xMid) < 1e-6, "crosshair on the hovered date");
assert.strictEqual(xh.getAttribute("visibility"), "visible");
console.log("hover: ok", tipLines.length - 1, "series at", X[mid]);

// 2) narrow the window to [3, 6]: x lands in the plot box, y as drawn
lo.value = "3"; hi.value = "6";
lo.listeners["input"]();
polys.forEach((p, si) => {
  const idx = [];
  DATA.series[si].values.forEach((v, i) => { if (v !== null) idx.push(i); });
  assert.strictEqual(idx.length, drawn[si].length);
  const want = idx.map((i, k) => [i, drawn[si][k][1]]).filter(([i]) => i >= 3 && i <= 6);
  const got = p.getAttribute("points").split(" ").filter(Boolean)
    .map(pt => pt.split(",").map(Number));
  assert.strictEqual(got.length, want.length);
  got.forEach(([x, y], k) => {
    assert.ok(x >= ML && x <= ML + PW, `x ${x} outside the plot box`);
    assert.ok(Math.abs(x - (ML + PW * (want[k][0] - 3) / 3)) <= 0.05);
    assert.strictEqual(y, want[k][1], "a kept point's y changed");
  });
});
assert.strictEqual(firstLabel.textContent, X[3]);
assert.strictEqual(lastLabel.textContent, X[6]);
console.log("window: ok", X[3], "…", X[6]);

// 3) the script computes no y scale, tick or axis of its own
for (const re of [/yBounds/, /\bylo\b/, /\byhi\b/, /\bpy\b/, /\bMT\b/, /\bPH\b/,
                  /tick/i, /axis/i, /<line/, /<text/, /<polyline/, /createElement/]) {
  assert.ok(!re.test(js), `script matches ${re}`);
}
console.log("static: ok");
