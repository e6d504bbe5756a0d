package perfbench

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.util.SplittableRandom

import graft.OsrsPipeline
import graft.parse.ValueOverride
import graft.reports.{ExclusionRange, MappingRule}

/** Seeded generator of a clan's Discord log, the raw input of the OSRS
  * pipeline: (id, timestamp, raw_content) rows.
  *
  * Every row is a pure function of (seed, id), so any slice of the log
  * (history, one 15-minute delta, a re-delivered overlap) regenerates
  * byte-identical rows without generating the rest. The message mix
  * covers every [[graft.parse.OsrsPatterns]] group and variant, late
  * variants and shadowed ones included, so first-match-wins dispatch
  * pays its real cost; about 5% of lines match nothing and land in the
  * dead-letter table.
  */
object OsrsGen {

  /** Start of the live window: tick k covers [t0 + (k-1)·15 min,
    * t0 + k·15 min). The preload holds the sparse 90-day history and the
    * dense tick 0 just before t0.
    */
  val t0: Instant = Instant.parse("2024-05-15T00:00:00Z")
  val historyDays = 90
  val tickMinutes = 15
  val overlapMinutes = 10
  /** Ticks stay before the run time, so every tick changes every period. */
  val maxTicks = 288
  /** New messages per 15-minute tick. */
  val tickSize = 1500
  val runTime: ZonedDateTime =
    ZonedDateTime.ofInstant(t0, ZoneOffset.UTC).plusMinutes(maxTicks.toLong * tickMinutes)

  final case class Msg(id: Long, tsMicros: Long, text: String, junk: Boolean)

  private def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x5DEECE66DL) + salt * 0x9E3779B97F4A7C15L + i))

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------ users

  private val firsts = Seq("Iron", "Zez", "Lynx", "Hans", "Bob", "Mod", "Sir", "Lil",
    "Big", "Dark", "Pure", "Void", "Tank", "Gim", "Uim", "Hc", "Main", "Skill",
    "Rune", "Dragon", "Abby", "Barrows", "Slay", "Fish", "Wood", "Fire")
  private val lasts = Seq("ima", "Titan", "Hans", "Pker", "Btw", "Scaper", "Noob",
    "King", "Queen", "Lord", "Mage", "Ranger", "Pure", "Man", "Girl", "Boi",
    "Wizard", "Knight", "Goblin", "Cow", "Chicken", "Monk", "Troll", "Giant")

  /** The clan roster for a seed: distinct display names, some with spaces
    * and digits, none ending in "and" (the multi-user split repairs those).
    */
  def users(seed: Long, n: Int = 400): IndexedSeq[String] = {
    val r = rng(seed, 1, 0)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val f = firsts(r.nextInt(firsts.size))
      val l = lasts(r.nextInt(lasts.size))
      val name = r.nextInt(4) match {
        case 0 => s"$f $l"
        case 1 => s"$f$l${r.nextInt(100)}"
        case 2 => s"$f $l ${r.nextInt(1000)}"
        case _ => s"$f$l"
      }
      if (name.length <= 12 || name.contains(" ")) out += name
    }
    out.toIndexedSeq
  }

  /** Zipf(s = 1.1) rank sampler over `n` users: heavy hitters dominate the
    * leaderboards the way a real clan's grinders do.
    */
  final class Zipf(n: Int, s: Double = 1.1) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---------------------------------------------------------- content

  private val drops = Seq("Abyssal whip" -> 2500000L, "Dragon warhammer" -> 38000000L,
    "Twisted bow" -> 1200000000L, "Rune platebody" -> 39000L, "Zenyte shard" -> 9000000L,
    "Dragon pickaxe" -> 4200000L, "Tanzanite fang" -> 2100000L, "Bandos chestplate" -> 17000000L,
    "Armadyl crossbow" -> 31000000L, "Dexterous prayer scroll" -> 55000000L)
  private val mobs = Seq("Abyssal demon", "Vorkath", "Zulrah", "General Graardor",
    "Chambers of Xeric", "Commander Zilyana", "Kraken", "Cerberus")
  private val clogItems = Seq("Pet snakeling", "Bandos hilt", "Dragon axe", "Jar of swamp",
    "Vorkath's head", "Uncut onyx", "Tanzanite mutagen")
  private val pets = Seq("Vorki", "Snakeling", "Heron", "Rocky", "Baby mole", "Olmlet")
  private val skills = Seq("Attack", "Strength", "Defence", "Ranged", "Magic", "Slayer",
    "Fishing", "Woodcutting", "Farming", "Herblore", "Construction")
  private val quests = Seq("Dragon Slayer II", "Monkey Madness II", "Song of the Elves",
    "Desert Treasure", "Recipe for Disaster")
  private val regions = Seq("Ardougne", "Varrock", "Falador", "Karamja", "Kandarin",
    "Western Provinces")
  private val tiers = Seq("Easy", "Medium", "Hard", "Elite", "Master", "Grandmaster")
  private val pbTasks = Seq("Zulrah", "Vorkath", "Theatre of Blood", "Fight Caves",
    "Chambers of Xeric", "Inferno")
  private val chatLines = Seq("gz", "grats on the drop", "gratz!", "111", "cya hick",
    "anyone for cox?", "lol", "brb", "nice", "gz on 99", "what a spoon", "rip",
    "cya hick crew", "gl on the grind")
  private val ranks = Seq("Owner", "Deputy_owner", "General", "Captain", "Lieutenant",
    "Sergeant", "Corporal", "Recruit", "Friend")
  private val junk = Seq("Server restart scheduled in ten minutes",
    "The clan hall is closed for maintenance", "[System] webhook retry",
    "Welcome to the clan chat channel", "Daily reset happened",
    "Event starts soon in world 420")

  /** Comma-grouped coin value ("2,500,000"); about one in eight plain. */
  private def coins(v: Long, r: SplittableRandom): String =
    if (r.nextInt(8) == 0) v.toString else f"$v%,d"

  private def icon(r: SplittableRandom): String = r.nextInt(20) match {
    case 0 => "<:Leagues_IV_badge:123>"                        // game-mode prefix
    case 1 | 2 => "<:Ironman:456>"
    case 3 => "<:Hardcore_ironman:457><:Group_ironman:458> "
    case _ => ""
  }

  private def pb(r: SplittableRandom): String = r.nextInt(4) match {
    case 0 => f"${r.nextInt(60)}%d.${r.nextInt(100)}%02d"
    case 1 => f"${r.nextInt(10)}%d:${r.nextInt(60)}%02d.${r.nextInt(100)}%02d"
    case 2 => f"${r.nextInt(60)}%d:${r.nextInt(60)}%02d"
    case _ => f"1:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.${r.nextInt(100)}%02d"
  }

  private def pick[T](xs: Seq[T], r: SplittableRandom): T = xs(r.nextInt(xs.size))

  /** One message body. `u` draws a Zipf-skewed username. */
  def text(r: SplittableRandom, u: () => String): (String, Boolean) = {
    val k = r.nextInt(1000)
    if (k < 50) (s"${pick(junk, r)} #${r.nextInt(100000)}", true)
    else if (k < 470) {
      val rank = pick(ranks, r)
      val status = if (r.nextInt(5) == 0) "<:Ironman:456>" else ""
      (s"<:$rank:${100 + r.nextInt(900)}>$status **${u()}**: ${pick(chatLines, r)}", false)
    } else (broadcast(k - 470, r, u), false)
  }

  /** The broadcast mix, 530 weight units over every group and variant. */
  private def broadcast(w: Int, r: SplittableRandom, u: () => String): String = {
    val (item, value) = pick(drops, r)
    val i = icon(r)
    w match {
      case x if x < 90 => s"$i${u()} received a drop: $item (${coins(value, r)} coins) from ${pick(mobs, r)}."
      case x if x < 130 => s"$i${u()} received a drop: $item (${coins(value, r)} coins)"
      case x if x < 145 => s"${u()} received a rare drop: $item"
      case x if x < 160 => s"${u()} received an item: $item"
      case x if x < 170 => s"${u()} received an item: Infernal cape"     // shadowed Bin variant
      case x if x < 195 => s"$i${u()} received a clue item: $item (${coins(value / 10, r)} coins)."
      case x if x < 225 =>
        s"$i${u()} received a new collection log item: ${pick(clogItems, r)} (${1 + r.nextInt(1400)}/1477)"
      case x if x < 245 =>
        val n = 1 + r.nextInt(4)
        val names = Seq.fill(n)(u()).distinct
        val who = if (names.size == 1) names.head
          else names.init.mkString(", ") + " and " + names.last
        s"$i$who received special loot from a raid: $item."
      case x if x < 250 => s"$i${u()} has a funny feeling like you're being followed: ${pick(pets, r)} at ${coins(100 + r.nextInt(5000), r)} kills."
      case x if x < 253 => s"$i${u()} feels something weird sneaking into their backpack: ${pick(pets, r)} at ${coins(1000000 + r.nextInt(9000000), r)} XP."
      case x if x < 256 => s"$i${u()} has a funny feeling like you're being followed: ${pick(pets, r)} at ${100 + r.nextInt(999)} kills (duplicate)"
      case x if x < 258 => s"$i${u()} feels like you acquired something special: ${pick(pets, r)}"
      case x if x < 261 => s"$i${u()} has a funny feeling like you're being followed: ${pick(pets, r)}."
      case x if x < 263 => s"$i${u()} has a funny feeling like you would have been followed: ${pick(pets, r)}."
      case x if x < 313 => s"$i${u()} has reached ${pick(skills, r)} level ${2 + r.nextInt(98)}."
      case x if x < 316 => s"$i${u()} has reached the highest possible combat level of 126!"
      case x if x < 331 => s"$i${u()} has reached a total level of ${500 + 25 * r.nextInt(70)}."
      case x if x < 333 => s"$i${u()} has reached the highest possible total level of 2277!"
      case x if x < 348 => s"$i${u()} has reached ${coins(5000000L * (1 + r.nextInt(40)), r)} XP in ${pick(skills, r)}."
      case x if x < 363 => s"$i${u()} has completed a quest: ${pick(quests, r)}."
      case x if x < 373 => s"$i${u()} has completed the ${pick(tiers.take(4), r)} ${pick(regions, r)} diary."
      case x if x < 388 => s"$i${u()} has completed ${if (r.nextBoolean()) "an elite" else "a hard"} combat task: Task ${r.nextInt(500)}."
      case x if x < 408 => s"$i${u()} has achieved a new ${pick(pbTasks, r)} personal best: ${pb(r)}"
      case x if x < 418 => s"$i${u()} has defeated ${u()} and received (${coins(1000 + r.nextInt(5000000), r)} coins) worth of loot!"
      case x if x < 423 =>
        val o = u(); s"$i${u()} has defeated $o, causing $o to lose (${coins(1000 + r.nextInt(500000), r)} coins) worth of loot!"
      case x if x < 431 => s"$i${u()} has been defeated by ${u()} in The Wilderness and lost (${coins(1000 + r.nextInt(900000), r)} coins) worth of loot."
      case x if x < 435 => s"$i${u()} has been defeated by ${u()} in The Wilderness."
      case x if x < 439 => s"$i${u()} has been defeated by ${u()} and lost (${coins(1000 + r.nextInt(90000), r)} coins) worth of loot."
      case x if x < 441 => s"$i${u()} has been defeated by ${u()} and lost an extraordinary amount of loot."
      case x if x < 445 => s"$i${u()} has been defeated by ${u()}."
      case x if x < 450 => s"$i${u()} has unlocked the ${pick(tiers, r)} tier of rewards from Combat Achievements!"
      case x if x < 465 => s"$i${u()} has been invited into the clan by ${u()}."
      case x if x < 475 => s"${u()} has expelled ${u()} from the clan."
      case x if x < 485 => s"${u()} has left the clan."
      case x if x < 490 => s"${u()} has died and lost a life. Their group has ${1 + r.nextInt(4)}/5 lives left."
      case x if x < 493 => s"${u()} has died and lost their Hardcore Ironman status."
      case x if x < 510 => s"${u()} has deposited ${coins(1000L * (1 + r.nextInt(5000)), r)} coins into the coffer."
      case x if x < 525 => s"${u()} has withdrawn ${coins(1000L * (1 + r.nextInt(5000)), r)} coins from the coffer."
      case _ => s"${u()} has deposited one coin into the coffer."
    }
  }

  /** A generator bound to one seed. */
  final class Log(val seed: Long, val historyRows: Long) {
    private val roster = users(seed)
    private val zipf = new Zipf(roster.size)
    private val historyMicros = historyDays * 86400L * 1000000L
    private val t0Micros = t0.getEpochSecond * 1000000L
    private val tickMicros = tickMinutes * 60L * 1000000L

    /** First id of tick k (k >= 0); ticks follow the history id range. */
    def tickStart(k: Int): Long = historyRows + k.toLong * tickSize

    private def body(id: Long, tsMicros: Long): Msg = {
      val r = rng(seed, 3, id)
      val (t, j) = text(r, () => roster(zipf.sample(r)))
      Msg(id, tsMicros, t, j)
    }

    /** History row `id` (0-based): evenly spread over the 90 days before
      * tick 0, with seeded jitter inside its slot.
      */
    def history(id: Long): Msg = {
      val span = historyMicros - tickMicros
      val slot = span / historyRows
      val jitter = (rng(seed, 4, id).nextDouble() * slot).toLong
      body(id, t0Micros - historyMicros + id * slot + jitter)
    }

    /** The store's content before the first tick: history and tick 0. */
    def preload: IndexedSeq[Msg] = (0L until historyRows).map(history) ++ tickNew(0)

    /** The new messages of tick k, evenly spread over its 15 minutes. */
    def tickNew(k: Int): IndexedSeq[Msg] = {
      val start = tickStart(k)
      (0 until tickSize).map { j =>
        body(start + j, t0Micros + (k - 1) * tickMicros + j * tickMicros / tickSize)
      }
    }

    /** Tick k's delivery (k >= 1): its new messages plus the re-delivered
      * last 10 minutes of tick k - 1 (the fetcher's overlap).
      */
    def tickDelivery(k: Int): IndexedSeq[Msg] = {
      val cut = t0Micros + (k - 1) * tickMicros - overlapMinutes * 60L * 1000000L
      tickNew(k - 1).filter(_.tsMicros >= cut) ++ tickNew(k)
    }
  }

  /** A clan config with every enrichment stage live: two username remaps
    * (one chained, one time-bounded), one exclusion window and a value
    * override. The override needs a price frame, which the streaming
    * entry point does not take, so on that path it stays inert.
    */
  def config(seed: Long): OsrsPipeline.Config = {
    val u = users(seed)
    def ts(daysBefore: Int) =
      Timestamp.from(t0.minusSeconds(daysBefore * 86400L))
    OsrsPipeline.Config(
      mappingRules = Seq(
        MappingRule(u(1), Seq(u(5), u(9)), Some(ts(30)), None),
        MappingRule(u(5), Seq(u(12)), None, Some(ts(60))),
        MappingRule(u(0), Seq(u(2)), Some(ts(70)), Some(ts(20)))),
      exclusionRanges = Seq(
        ExclusionRange(ts(47), ts(45), Seq("PvP Kill", "PvP Death", "Valuable Drop"))),
      valueOverrides = Seq(ValueOverride("Rune platebody", Some(39000L), Some("1127"))))
  }
}
